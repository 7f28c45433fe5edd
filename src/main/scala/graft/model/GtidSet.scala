package graft.model

/** One contiguous GTID interval, inclusive on both ends. */
final case class GtidRange(start: Long, end: Long) {
  require(start <= end, s"invalid GTID range $start-$end")
}

/** A MySQL GTID set: serverUUID -> sorted, disjoint interval list.
  *
  * Re-expresses the reference's GTID structure
  * (`internal/model/gtid.go:9,58-77`) as an immutable value. Two
  * reference quirks are deliberately normalized rather than cloned
  * (they are bugs — see `internal/model/gtid.go:17-18,42-56`):
  *   - single-point ranges like `uuid:5` parse fine here (the
  *     reference indexes `split("-")[1]` and panics);
  *   - serialization joins ranges of one uuid with `:` (MySQL
  *     canonical `uuid:1-5:7-9`), not with `,` which
  *     `mysql.ParseGTIDSet` would reject.
  *
  * This type doubles as the offset of a CDC stream (JSON/string
  * serialized into a Structured Streaming checkpoint) and as the
  * running union of [[graft.functions.GtidAccum]].
  */
final case class GtidSet(intervals: Map[String, Vector[GtidRange]]) {

  /** Running-union append of one transaction id; the streaming-side
    * analog of the reference's `SetGTID` (`gtid.go:58-72`), but
    * order-insensitive: a gno landing inside/adjacent to any existing
    * range merges correctly, not just the last one.
    */
  def add(uuid: String, gno: Long): GtidSet = addRange(uuid, GtidRange(gno, gno))

  def addRange(uuid: String, r: GtidRange): GtidSet =
    GtidSet(intervals.updated(uuid, GtidSet.insert(intervals.getOrElse(uuid, Vector.empty), r)))

  /** Interval-set union — one LINEAR coalescing merge per uuid, not a
    * per-range re-insertion (which costs O(m·n) splices when both
    * sides carry many intervals — the sf1 sweep caught exactly that
    * shape in the aggregate's shuffle-merge).
    */
  def merge(other: GtidSet): GtidSet =
    GtidSet((intervals.keySet ++ other.intervals.keySet).iterator.map { u =>
      u -> GtidSet.unionSorted(
        intervals.getOrElse(u, Vector.empty),
        other.intervals.getOrElse(u, Vector.empty))
    }.toMap)

  def contains(uuid: String, gno: Long): Boolean =
    intervals.get(uuid).exists(_.exists(r => r.start <= gno && gno <= r.end))

  /** True iff every gno of `this` is also in `other`. Pure interval
    * arithmetic — never enumerates gnos, so ranges spanning billions of
    * transactions (normal for a long-lived MySQL server) cost O(log n)
    * per interval, not O(width): both sides are sorted and disjoint, so
    * a range is covered iff a single interval of `other` contains it
    * (a gap inside the candidate would split the cover).
    */
  def subsetOf(other: GtidSet): Boolean =
    intervals.forall { case (u, rs) =>
      other.intervals.get(u) match {
        case None => rs.isEmpty
        case Some(os) =>
          rs.forall { r =>
            // binary search: last interval with start <= r.start
            var lo = 0
            var hi = os.length - 1
            var cand = -1
            while (lo <= hi) {
              val mid = (lo + hi) >>> 1
              if (os(mid).start <= r.start) { cand = mid; lo = mid + 1 }
              else hi = mid - 1
            }
            cand >= 0 && os(cand).end >= r.end
          }
      }
    }

  def isEmpty: Boolean = intervals.isEmpty

  /** Canonical MySQL text form: `uuid:1-5:7:9-12,uuid2:1-3`
    * (single-point ranges collapse to a bare number).
    */
  def serialize: String =
    intervals.toSeq
      .sortBy(_._1)
      .map { case (u, rs) =>
        u + ":" + rs
          .map(r => if (r.start == r.end) s"${r.start}" else s"${r.start}-${r.end}")
          .mkString(":")
      }
      .mkString(",")
}

object GtidSet {
  val empty: GtidSet = GtidSet(Map.empty)

  /** Insert one range into an already-canonical (sorted, disjoint)
    * list: binary-search the insertion point, coalesce with the
    * overlapping/adjacent neighbors, splice. O(log n) search +
    * O(n) splice — NOT a full re-sort: `addRange` runs once per
    * transaction in the per-batch GTID aggregate, and a re-sorting
    * insert turns a scattered batch (any shuffle breaks pos order)
    * into quadratic work on the agg buffer.
    */
  /** Union of two START-SORTED range lists in ONE coalescing pass —
    * O(m + n), the merge primitive behind [[GtidSet.merge]] and the
    * batched aggregation buffer ([[graft.functions.GtidAccum]]).
    *
    * Precondition: `a` must already be CANONICAL (disjoint,
    * non-adjacent) — the `b.isEmpty` fast path returns it as-is,
    * uncoalesced. `b` only needs start order; its entries may overlap
    * each other or `a` (the sorted-batch case GtidAccum feeds in).
    * Every caller passes a canonical left side (GtidSet ranges are
    * canonical by construction; GtidAccum's running vector is this
    * function's own output).
    */
  def unionSorted(a: Vector[GtidRange], b: Seq[GtidRange]): Vector[GtidRange] = {
    if (b.isEmpty) return a
    val out = Vector.newBuilder[GtidRange]
    var cur: GtidRange = null
    def push(r: GtidRange): Unit =
      if (cur == null) cur = r
      else if (r.start <= cur.end + 1)
        cur = GtidRange(cur.start, math.max(cur.end, r.end))
      else { out += cur; cur = r }
    var i = 0
    var j = 0
    while (i < a.length || j < b.length) {
      if (j >= b.length || (i < a.length && a(i).start <= b(j).start)) {
        push(a(i)); i += 1
      } else { push(b(j)); j += 1 }
    }
    if (cur != null) out += cur
    out.result()
  }

  def insert(rs: Vector[GtidRange], r: GtidRange): Vector[GtidRange] = {
    if (rs.isEmpty) return Vector(r)
    // fast path: the running-union append (pos-ordered streams)
    val last = rs.last
    if (r.start > last.end + 1) return rs :+ r
    if (r.start >= last.start)
      return if (r.end <= last.end) rs
      else rs.init :+ GtidRange(last.start, math.max(last.end, r.end))
    // general path: first range that could touch r (end >= r.start - 1)
    var lo = 0
    var hi = rs.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (rs(mid).end >= r.start - 1) hi = mid else lo = mid + 1
    }
    val from = lo
    if (rs(from).start > r.end + 1) // r fits wholly in the gap before `from`
      return (rs.take(from) :+ r) ++ rs.drop(from)
    // coalesce r with rs(from..to), the touching run
    var to = from
    while (to + 1 < rs.length && rs(to + 1).start <= r.end + 1) to += 1
    val merged = GtidRange(
      math.min(rs(from).start, r.start), math.max(rs(to).end, r.end))
    (rs.take(from) :+ merged) ++ rs.drop(to + 1)
  }

  /** Sort + merge overlapping/adjacent ranges into the canonical
    * disjoint form.
    */
  def normalize(rs: Vector[GtidRange]): Vector[GtidRange] = {
    val sorted = rs.sortBy(r => (r.start, r.end))
    sorted.foldLeft(Vector.empty[GtidRange]) { (acc, r) =>
      acc.lastOption match {
        case Some(last) if r.start <= last.end + 1 =>
          acc.init :+ GtidRange(last.start, math.max(last.end, r.end))
        case _ => acc :+ r
      }
    }
  }

  /** Parse the canonical text form. Tolerates single-point ranges and
    * whitespace; empty string -> empty set.
    */
  def parse(s: String): GtidSet = {
    if (s == null || s.trim.isEmpty) return empty
    val perUuid = s
      .split(",")
      .iterator
      .map(_.trim)
      .filter(_.nonEmpty)
      .map { part =>
        val pieces = part.split(":")
        require(pieces.length >= 2, s"malformed GTID component '$part'")
        val uuid = pieces.head.trim
        val ranges = pieces.tail.toVector.map { rp =>
          rp.split("-").map(_.trim) match {
            case Array(a) => GtidRange(a.toLong, a.toLong)
            case Array(a, b) => GtidRange(a.toLong, b.toLong)
            case _ => throw new IllegalArgumentException(s"malformed GTID range '$rp'")
          }
        }
        uuid -> ranges
      }
      .toSeq
    GtidSet(
      perUuid
        .groupMapReduce(_._1)(_._2)(_ ++ _)
        .map { case (u, rs) => u -> normalize(rs) }
    )
  }
}
