package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

import graft.model.{GtidRange, GtidSet}

/** Aggregation buffer for the GTID union: the interval set plus an
  * UNSORTED pending batch, folded in via amortized linear merges.
  *
  * Why not insert per row: [[GtidSet.insert]] splices an immutable
  * vector — O(intervals) per mid-list insertion. On a POS-ORDERED
  * partition every insert hits the O(1) append fast path, but any
  * shuffle or unordered file layout scatters positions, and per-row
  * insertion degrades to O(rows × intervals) — measured 66× at 10×
  * data on the gappy roundtrip aggregate before this buffer existed
  * (BENCH_sf1_full, round 14). Batching restores the bound: rows
  * land in an ArrayBuffer (O(1)), and every `FlushAt` rows the batch
  * is sorted (O(B log B)) and union-merged in ONE linear pass
  * ([[GtidSet.unionSorted]]) — total O(n log B + (n/B) · intervals),
  * linear-ish in rows for any input order. Buffer memory stays
  * O(gaps + B).
  */
final class GtidAccum(
    var set: GtidSet,
    val pending: scala.collection.mutable.ArrayBuffer[(String, Long)]
) extends Serializable {

  def add(uuid: String, gno: Long): GtidAccum = {
    pending += ((uuid, gno))
    if (pending.length >= GtidAccum.FlushAt) flush()
    this
  }

  /** Fold the pending batch into the interval set: per uuid, sort the
    * gnos, coalesce runs into ranges locally, then one linear union.
    */
  def flush(): GtidAccum = {
    if (pending.nonEmpty) {
      var s = set
      pending.groupBy(_._1).foreach { case (u, ps) =>
        val sorted = ps.map(_._2).sorted
        val ranges = Vector.newBuilder[GtidRange]
        var start = sorted.head
        var end = start
        var i = 1
        while (i < sorted.length) {
          val g = sorted(i)
          if (g <= end + 1) { if (g > end) end = g }
          else { ranges += GtidRange(start, end); start = g; end = g }
          i += 1
        }
        ranges += GtidRange(start, end)
        s = GtidSet(s.intervals.updated(u,
          GtidSet.unionSorted(s.intervals.getOrElse(u, Vector.empty), ranges.result())))
      }
      set = s
      pending.clear()
    }
    this
  }

  def result: GtidSet = flush().set
}

object GtidAccum {
  /** Batch size: big enough to amortize the linear union, small
    * enough that the sort stays cache-resident.
    */
  val FlushAt = 4096
  def empty: GtidAccum =
    new GtidAccum(GtidSet.empty, scala.collection.mutable.ArrayBuffer.empty)
}

/** Typed aggregator: a stream of (uuid, gno) transaction ids -> the
  * merged interval set in the canonical MySQL text form, i.e. the
  * distributed version of the reference's mutex-guarded running GTID
  * union (`internal/model/gtid.go:58-72`, call site
  * `internal/cannal/incremental.go:195-208`) — the shape persisted as a
  * per-table watermark (`go_cdc_table_meta.last_pos`,
  * `internal/model/tablemeta.go:30`).
  *
  * Order-insensitive and idempotent (interval union), so it is safe as
  * a shuffle-partial aggregate: Spark runs `reduce` map-side and
  * `merge` on the exchange, exactly like a partial+final agg. Buffer
  * state is O(#gaps + batch), not O(#gnos) — at 100 TB the buffer
  * stays tiny as long as streams are mostly contiguous per server
  * uuid, and per-row cost stays amortized-linear for ANY row order
  * (see [[GtidAccum]]).
  */
object GtidStringAgg extends Aggregator[(String, Long), GtidAccum, String] {
  override def zero: GtidAccum = GtidAccum.empty
  override def reduce(b: GtidAccum, a: (String, Long)): GtidAccum = b.add(a._1, a._2)
  override def merge(b1: GtidAccum, b2: GtidAccum): GtidAccum =
    new GtidAccum(b1.result.merge(b2.result),
      scala.collection.mutable.ArrayBuffer.empty)
  override def finish(b: GtidAccum): String = b.result.serialize
  override def bufferEncoder: Encoder[GtidAccum] = Encoders.kryo[GtidAccum]
  override def outputEncoder: Encoder[String] = Encoders.STRING
}
