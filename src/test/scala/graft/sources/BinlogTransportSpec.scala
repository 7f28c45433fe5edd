package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.scalatest.funsuite.AnyFunSuite

import graft.model.GtidSet
import graft.streaming.FeedRow

/** The reference's reconnect/backoff policy
  * (`internal/cannal/incremental.go:100-114`) as executable spec:
  * exponential backoff with a 30 s cap, surrender after 10
  * consecutive failures, reset on success — plus the stream-level
  * guarantee that a flaky-but-recovering transport loses nothing.
  */
class BinlogTransportSpec extends AnyFunSuite {

  private def row(pos: Long) =
    FeedRow(pos, new java.sql.Timestamp(pos * 1000), pos % 7, "insert", pos.toDouble)

  /** Fails the first `failures` fetches, then serves `rows` forever. */
  private final class FlakyTransport(failures: Int, rows: Vector[FeedRow])
      extends BinlogTransport {
    var calls = 0
    override def fetch(): Vector[FeedRow] = {
      calls += 1
      if (calls <= failures) throw new TransportException(s"drop #$calls")
      rows
    }
  }

  test("backoff doubles per failure and caps at 30 s") {
    val sleeps = ArrayBuffer.empty[Long]
    val t = new ReconnectingTransport(
      new FlakyTransport(7, Vector(row(1))), sleep = sleeps += _)
    assert(t.fetch() == Vector(row(1)))
    assert(sleeps.toSeq == Seq(1000L, 2000L, 4000L, 8000L, 16000L, 30000L, 30000L))
  }

  test("gives up after 10 consecutive failures") {
    val sleeps = ArrayBuffer.empty[Long]
    val t = new ReconnectingTransport(
      new FlakyTransport(Int.MaxValue, Vector.empty), sleep = sleeps += _)
    val e = intercept[TransportException](t.fetch())
    assert(e.getMessage.contains("giving up"))
    assert(sleeps.length == 10) // 10 retries slept, 11th failure surrenders
  }

  test("success resets the backoff (next outage starts at 1 s again)") {
    val sleeps = ArrayBuffer.empty[Long]
    var mode = "fail3"
    val inner = new BinlogTransport {
      var calls = 0
      override def fetch(): Vector[FeedRow] = {
        calls += 1
        mode match {
          case "fail3" => if (calls <= 3) throw new TransportException("x") else Vector(row(1))
          case "fail1" => if (calls == 5) throw new TransportException("y") else Vector(row(2))
        }
      }
    }
    val t = new ReconnectingTransport(inner, sleep = sleeps += _)
    t.fetch() // 3 failures: 1s, 2s, 4s
    mode = "fail1"
    t.fetch() // 1 failure: backoff must be back at 1s, NOT 8s
    assert(sleeps.toSeq == Seq(1000L, 2000L, 4000L, 1000L))
  }

  test("a flaky-but-recovering transport loses no events end-to-end") {
    val rows = (1L to 200L).map(row).toVector
    val flaky = new FlakyTransport(2, rows)
    val noSleep: Long => Unit = _ => ()
    val stream = new GtidReplayStream(
      Seq(("srv-1", "unused")), numPartitions = 2, maxRowsPerBatch = Some(50),
      transportFactory = _ => new ReconnectingTransport(flaky, sleep = noSleep))
    // drive the offset protocol the way the engine does
    var off = stream.initialOffset()
    var delivered = 0L
    var batches = 0
    while ({
      val next = stream.latestOffset(off, stream.getDefaultReadLimit)
      val n = stream.planInputPartitions(off, next)
        .map(_.asInstanceOf[GtidReplayPartition].rows.length.toLong).sum
      delivered += n
      off = next
      batches += 1
      n > 0 && batches < 20
    }) ()
    assert(delivered == 200L)
    assert(flaky.calls > 2) // the outage really happened and was ridden out
  }

  test("admission control admits whole transactions — shared-pos rows never split") {
    // a multi-row transaction shares one GTID pos (the decoder's
    // output shape); if the cap could cut inside the pos-group, the
    // offset would advance past the unadmitted rows and drop them
    val rows = Vector(
      row(1), row(1), row(1), // 3-row tx at pos 1
      row(2), // 1-row tx
      row(3), row(3)) // 2-row tx
    val stream = new GtidReplayStream(
      Seq(("srv-1", "unused")), numPartitions = 2, maxRowsPerBatch = Some(2),
      transportFactory = _ => new BinlogTransport {
        override def fetch(): Vector[FeedRow] = rows
      })
    var off = stream.initialOffset()
    var batches = Vector.empty[Seq[Long]]
    var continue = true
    while (continue) {
      val next = stream.latestOffset(off, stream.getDefaultReadLimit)
      val got = stream.planInputPartitions(off, next)
        .flatMap(_.asInstanceOf[GtidReplayPartition].rows.map(_.pos)).toSeq.sorted
      if (got.isEmpty) continue = false else batches :+= got
      off = next
    }
    // tx at pos 1 exceeds the cap but ships whole; pos 2+3 txs pack
    // to the cap's tx boundary
    assert(batches.map(_.toList) == Vector(
      List(1L, 1L, 1L), List(2L), List(3L, 3L)))
  }

  // ---- the binary binlog codec behind the same seam -----------------------

  import BinlogCodec._

  private val U = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
  private val cols = Seq(TYPE_LONGLONG, TYPE_DOUBLE)
  private val meta = Seq(0, 8)

  /** Segment 1: two committed transactions (a 2-row insert, then a
    * 1-row insert).
    */
  private def segment1(crc: Boolean = true): Array[Byte] =
    new BinlogWriter.Stream(crc32 = crc)
      .gtid(U, 1, 100)
      .tableMap(7, "shop", "events", cols, meta, 100)
      .writeRows(7, Seq(Seq(Some(1L), Some(1.0)), Seq(Some(2L), Some(2.0))), 100)
      .xid(1, 100)
      .gtid(U, 2, 101)
      .tableMap(7, "shop", "events", cols, meta, 101)
      .writeRows(7, Seq(Seq(Some(3L), Some(3.0))), 101)
      .xid(2, 101)
      .bytes

  /** Segment 2: an update (before/after pair), a delete, then an
    * UNCOMMITTED insert the stream ends inside.
    */
  private def segment2: Array[Byte] =
    new BinlogWriter.Stream()
      .gtid(U, 3, 102)
      .tableMap(7, "shop", "events", cols, meta, 102)
      .updateRows(7, Seq((Seq(Some(2L), Some(2.0)), Seq(Some(2L), Some(20.0)))), 102)
      .xid(3, 102)
      .gtid(U, 4, 103)
      .tableMap(7, "shop", "events", cols, meta, 103)
      .deleteRows(7, Seq(Seq(Some(1L), Some(1.0))), 103)
      .xid(4, 103)
      .gtid(U, 5, 104)
      .tableMap(7, "shop", "events", cols, meta, 104)
      .writeRows(7, Seq(Seq(Some(9L), Some(9.0))), 104)
      // no XID: at-least-once replay owns this transaction
      .bytes

  test("binlog roundtrip: events decode and assemble into the seam's FeedRows") {
    val evs = BinlogDecoder.decode(segment1())
    assert(evs.collect { case g: Gtid => g.gno } == Vector(1L, 2L))
    assert(evs.collect { case t: TableMap => (t.schema, t.table) }.distinct ==
      Vector(("shop", "events")))
    val rows = BinlogDecoder.toFeedRows(evs)
    assert(rows == Vector(
      FeedRow(1, new java.sql.Timestamp(100000), 1, "insert", 1.0),
      FeedRow(1, new java.sql.Timestamp(100000), 2, "insert", 2.0),
      FeedRow(2, new java.sql.Timestamp(101000), 3, "insert", 3.0)))
    // update emits the after-image, delete the before-image, and the
    // uncommitted tail transaction is NEVER emitted
    val rows2 = BinlogDecoder.toFeedRows(BinlogDecoder.decode(segment2))
    assert(rows2 == Vector(
      FeedRow(3, new java.sql.Timestamp(102000), 2, "update", 20.0),
      FeedRow(4, new java.sql.Timestamp(103000), 1, "delete", 1.0)))
  }

  test("binlog: NULL columns ride the null bitmap; varchar and int32 decode") {
    val w = new BinlogWriter.Stream()
      .gtid(U, 1, 50)
      .tableMap(3, "s", "t",
        Seq(TYPE_LONGLONG, TYPE_DOUBLE, TYPE_VARCHAR, TYPE_LONG),
        Seq(0, 8, 255, 0), 50)
      .writeRows(3, Seq(
        Seq(Some(42L), None, Some("héllo"), Some(-5L)),
        Seq(Some(43L), Some(4.5), None, None)), 50)
      .xid(1, 50)
    val rows = BinlogDecoder.decode(w.bytes).collect { case r: Rows => r }
    assert(rows.head.after == Vector(
      Vector(Some(42L), None, Some("héllo"), Some(-5L)),
      Vector(Some(43L), Some(4.5), None, None)))
    // a NULL double maps to the feed's 0.0 (payload absence), pk stays
    val feed = BinlogDecoder.toFeedRows(BinlogDecoder.decode(w.bytes))
    assert(feed.map(r => (r.pk, r.value)) == Vector((42L, 0.0), (43L, 4.5)))
  }

  test("binlog: CRC32 corruption and truncation are transport failures") {
    val good = segment1()
    // flip one payload byte -> CRC mismatch
    val bad = good.clone()
    bad(bad.length - 10) = (bad(bad.length - 10) ^ 0x40).toByte
    val e1 = intercept[TransportException](BinlogDecoder.decode(bad))
    assert(e1.getMessage.contains("CRC32"))
    // cut the stream mid-event -> truncation
    val cut = java.util.Arrays.copyOf(good, good.length - 7)
    val e2 = intercept[TransportException](BinlogDecoder.decode(cut))
    assert(e2.getMessage.contains("truncated"))
    // wrong magic
    val nomagic = good.clone(); nomagic(0) = 0x00
    assert(intercept[TransportException](BinlogDecoder.decode(nomagic))
      .getMessage.contains("magic"))
  }

  test("binlog: malformed v2 extra-data length fails cleanly, never rewinds") {
    // hand-frame a WRITE_ROWS event whose extra-data length field is 0
    // (the length includes its own 2 bytes, so <2 is nonsense) — the
    // decoder must refuse rather than skip(-2) back into parsed bytes
    val body = {
      val b = new java.io.ByteArrayOutputStream()
      // table id 7 (u6), flags (u2), extraLen = 0 (u2)
      Seq(7, 0, 0, 0, 0, 0, 0, 0, 0, 0).foreach(v => b.write(v & 0xff))
      b.toByteArray
    }
    val w = new BinlogWriter.Stream()
      .tableMap(7, "s", "t", cols, meta, 10)
      .opaque(WRITE_ROWS_V2, body, 10)
    val e = intercept[TransportException](BinlogDecoder.decode(w.bytes))
    assert(e.getMessage.contains("extra-data length"))
  }

  test("corrupt bytes fail FAST through the reconnect policy — no backoff ladder") {
    // a deterministic decode failure re-fails identically on every
    // retry; the policy must surface it immediately instead of
    // sleeping through 10 backoffs (~2 min of driver time per fetch)
    val sleeps = ArrayBuffer.empty[Long]
    val corrupt = new BinlogTransport {
      override def fetch(): Vector[FeedRow] =
        throw new CorruptStreamException("CRC32 mismatch")
    }
    val t = new ReconnectingTransport(corrupt, sleep = sleeps += _)
    val e = intercept[CorruptStreamException](t.fetch())
    assert(e.getMessage.contains("CRC32"))
    assert(sleeps.isEmpty) // zero retries, zero sleeps
  }

  test("admission budget above Int.MaxValue admits everything (no overflow)") {
    val rows = (1L to 100L).map(row).toVector
    val stream = new GtidReplayStream(
      Seq(("srv-1", "unused")), numPartitions = 2,
      maxRowsPerBatch = Some(Int.MaxValue.toLong + 5L),
      transportFactory = _ => new BinlogTransport {
        override def fetch(): Vector[FeedRow] = rows
      })
    val off = stream.initialOffset()
    val next = stream.latestOffset(off, stream.getDefaultReadLimit)
    val n = stream.planInputPartitions(off, next)
      .map(_.asInstanceOf[GtidReplayPartition].rows.length.toLong).sum
    assert(n == 100L) // a truncated-to-negative budget would admit 1 tx
  }

  test("binlog: a corrupted FORMAT_DESCRIPTION surfaces, never downgrades to no-CRC") {
    val good = segment1()
    // FDE is the first event (pos 4); its alg byte says CRC32 — flip a
    // byte inside its serverVersion so the FDE's own CRC fails
    val bad = good.clone()
    bad(4 + HeaderLen + 4) = (bad(4 + HeaderLen + 4) ^ 0x01).toByte
    val e = intercept[CorruptStreamException](BinlogDecoder.decode(bad))
    assert(e.getMessage.contains("FORMAT_DESCRIPTION"))
  }

  test("binlog: rows after an ANONYMOUS_GTID marker fail assembly, never misattribute") {
    // the marker arrives INSIDE an open transaction (between the GTID
    // and its XID) — the exact window where rows following it would
    // otherwise be silently attributed to gno=1
    val w = new BinlogWriter.Stream()
      .gtid(U, 1, 80)
      .tableMap(7, "s", "t", cols, meta, 80)
      .writeRows(7, Seq(Seq(Some(1L), Some(1.0))), 80)
      .opaque(ANONYMOUS_GTID, Array.fill[Byte](25)(0), 81)
      .tableMap(7, "s", "t", cols, meta, 81)
      .writeRows(7, Seq(Seq(Some(2L), Some(2.0))), 81)
      .xid(1, 81)
    val e = intercept[CorruptStreamException](
      BinlogDecoder.toFeedRows(BinlogDecoder.decode(w.bytes)))
    assert(e.getMessage.contains("anonymous"))
    // an anonymous marker with NO rows is harmless: the next real GTID
    // transaction assembles normally
    val w2 = new BinlogWriter.Stream()
      .opaque(ANONYMOUS_GTID, Array.fill[Byte](25)(0), 90)
      .gtid(U, 7, 91)
      .tableMap(7, "s", "t", cols, meta, 91)
      .writeRows(7, Seq(Seq(Some(3L), Some(3.0))), 91)
      .xid(7, 91)
    assert(BinlogDecoder.toFeedRows(BinlogDecoder.decode(w2.bytes)) ==
      Vector(FeedRow(7, new java.sql.Timestamp(91000), 3, "insert", 3.0)))
  }

  test("binlog fuzz property: every single-byte flip throws cleanly, never decodes garbage") {
    // CRC32 detects all single-byte corruption, the first-event-is-FDE
    // check covers the FDE's own header, and cursor bounds checks cover
    // length-field damage — so EVERY flipped byte must surface as a
    // TransportException (clean, classified), never an
    // ArrayIndexOutOfBounds/NPE/ClassCast and never a silent success.
    // The ONE structurally unprotectable byte is the FDE's checksum-
    // algorithm byte itself (flipping 1 -> 0 legitimately reads as "a
    // checksum-off stream"); a real deployment pins checksum mode from
    // the connection handshake, which has no in-file equivalent.
    val good = segment1()
    val fdeLen = leU4At(good, 4 + 9).toInt
    val algPos = 4 + fdeLen - 5
    val rnd = new scala.util.Random(99)
    var thrown = 0
    (1 to 300).foreach { _ =>
      val at = rnd.nextInt(good.length)
      if (at != algPos) {
        val bad = good.clone()
        val bit = 1 << rnd.nextInt(8)
        bad(at) = (bad(at) ^ bit).toByte
        val e = intercept[TransportException] {
          BinlogDecoder.toFeedRows(BinlogDecoder.decode(bad))
        }
        assert(e.isInstanceOf[TransportException]); thrown += 1
      }
    }
    assert(thrown > 250, s"fuzz coverage too small: $thrown flips exercised")
  }

  private def leU4At(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  test("binlog: checksum-off streams decode; unknown event types are skipped") {
    val w = new BinlogWriter.Stream(crc32 = false)
      .gtid(U, 1, 60)
      .opaque(ROTATE, Array.fill[Byte](12)(0x01), 60) // not modeled: skipped
      .tableMap(1, "s", "t", cols, meta, 60)
      .writeRows(1, Seq(Seq(Some(5L), Some(5.5))), 60)
      .xid(1, 60)
    val evs = BinlogDecoder.decode(w.bytes)
    assert(evs.exists { case Skipped(ROTATE, _) => true; case _ => false })
    assert(BinlogDecoder.toFeedRows(evs) ==
      Vector(FeedRow(1, new java.sql.Timestamp(60000), 5, "insert", 5.5)))
  }

  test("binlog: FDE checksum-alg byte is located structurally, ambiguity fails loudly") {
    // The checksum-off FDE now carries a real post-header-length table
    // (its own entry = 2+50+4+1+n), so the decoder reads the ACTUAL
    // alg byte (0) instead of the end-offset heuristic byte — a table
    // entry that happens to be nonzero no longer matters...
    val ok = new BinlogWriter.Stream(crc32 = false)
      .gtid(U, 1, 60)
      .tableMap(1, "s", "t", cols, meta, 60)
      .writeRows(1, Seq(Seq(Some(5L), Some(5.5))), 60)
      .xid(1, 60)
    assert(BinlogDecoder.toFeedRows(BinlogDecoder.decode(ok.bytes)).nonEmpty)
    // ...UNLESS it sits exactly where a trailing CRC's alg byte would
    // (body offset bodyLen-5) AND reads 0x01: then "no-CRC FDE with
    // 0x01 table data" and "CRC-on FDE whose self-entry byte was
    // corrupted" are byte-indistinguishable, and the decoder must
    // refuse to guess (guessing no-CRC would let a 1-bit flip disable
    // checksum verification for the whole stream).
    val amb = ok.bytes
    amb(4 + HeaderLen + 92) = 1 // table entry idx 35 → the end-offset position
    val e = intercept[CorruptStreamException](BinlogDecoder.decode(amb))
    assert(e.getMessage.contains("ambiguous"))
  }

  test("binlog roundtrip property: random transactions survive encode→decode bit-exact") {
    val rnd = new scala.util.Random(1337)
    (1 to 20).foreach { _ =>
      val crc = rnd.nextBoolean()
      val w = new BinlogWriter.Stream(crc32 = crc)
      val types = Seq(TYPE_LONGLONG, TYPE_DOUBLE, TYPE_VARCHAR, TYPE_LONG)
      val mta = Seq(0, 8, if (rnd.nextBoolean()) 255 else 300, 0)
      var expected = Vector.empty[FeedRow]
      val nTx = rnd.nextInt(20) + 1
      (1 to nTx).foreach { g =>
        val ts = 1000L + g
        w.gtid(U, g.toLong, ts).tableMap(9, "db", "t", types, mta, ts)
        def cell(): Seq[Option[Any]] = Seq(
          Some(rnd.nextLong(1000000)),
          if (rnd.nextBoolean()) Some(rnd.nextDouble()) else None,
          // length ≤ meta: the writer emits a u1 length for meta ≤ 255
          // (the format's own constraint), u2 above — exercise both
          if (rnd.nextBoolean())
            Some(rnd.alphanumeric.take(rnd.nextInt(if (mta(2) > 255) 299 else 200)).mkString)
          else None,
          if (rnd.nextBoolean()) Some(rnd.nextInt().toLong) else None)
        val rows = Vector.fill(rnd.nextInt(5) + 1)(cell())
        rnd.nextInt(3) match {
          case 0 =>
            w.writeRows(9, rows, ts)
            expected ++= rows.map(r => FeedRow(g.toLong, new java.sql.Timestamp(ts * 1000),
              r.head.get.asInstanceOf[Long], "insert",
              r(1).map(_.asInstanceOf[Double]).getOrElse(0.0)))
          case 1 =>
            w.updateRows(9, rows.map(r => (cell(), r)), ts)
            expected ++= rows.map(r => FeedRow(g.toLong, new java.sql.Timestamp(ts * 1000),
              r.head.get.asInstanceOf[Long], "update",
              r(1).map(_.asInstanceOf[Double]).getOrElse(0.0)))
          case 2 =>
            w.deleteRows(9, rows, ts)
            expected ++= rows.map(r => FeedRow(g.toLong, new java.sql.Timestamp(ts * 1000),
              r.head.get.asInstanceOf[Long], "delete",
              r(1).map(_.asInstanceOf[Double]).getOrElse(0.0)))
        }
        w.xid(g.toLong, ts)
      }
      assert(BinlogDecoder.toFeedRows(BinlogDecoder.decode(w.bytes)) == expected)
    }
  }

  test("binlog: QUERY events classify DDL by the reference's prefix gate") {
    val w = new BinlogWriter.Stream()
      .query("shop", "CREATE TABLE t (id INT)", 70)
      .query("shop", "  alter table t add column v2 int", 70)
      .query("shop", "TRUNCATE t", 70)
      .query("shop", "BEGIN", 70)
      .query("shop", "INSERT INTO t VALUES (1)", 70)
    val kinds = BinlogDecoder.decode(w.bytes)
      .collect { case q: Query => q.ddlKind }
    assert(kinds == Vector(
      Some("create"), Some("alter"), Some("truncate"), None, None))
  }

  test("binlog segments flow through the DSv2 source into pipeline state") {
    val spark = graft.TestSpark.spark
    val id = BinlogBuffers.register(segment1())
    val base = s"target/tmp/binlog-e2e-${System.nanoTime()}"
    val store = new graft.cdc.WatermarkStore(s"$base/wm")
    def drain(): Unit = {
      val q = spark.readStream
        .format(classOf[GtidReplayProvider].getName)
        .option("bufferId", s"binlog:$id")
        .option("uuid", U)
        .load()
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          graft.cdc.CdcPipeline.applyFor(
            graft.cdc.CdcPipeline.Cow, store, s"$base/state", U)(batch, bid)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    // the binlog rotates: a second file with an update, a delete, and
    // an uncommitted tail; resume decodes and applies only the new txs
    BinlogBuffers.append(id, segment2)
    drain()
    val state = graft.cdc.CdcPipeline.readState(spark, s"$base/state")
      .collect().map(r => r.getAs[Long]("pk") ->
        (r.getAs[Long]("pos"), r.getAs[String]("op"), r.getAs[Double]("value")))
      .toMap
    assert(state == Map(
      2L -> (3L, "update", 20.0), // updated in the second segment
      3L -> (2L, "insert", 3.0))) // pk=1 deleted; pk=9 never committed
  }

  // ---- the stream's uncommitted window --------------------------------------

  /** Serves `rows` whole on every fetch and counts the fetches. */
  private final class CountingTransport(rows: Vector[FeedRow]) extends BinlogTransport {
    var calls = 0
    override def fetch(): Vector[FeedRow] = { calls += 1; rows }
  }

  private def offset(gnos: Range): GtidOffset =
    GtidOffset(gnos.foldLeft(GtidSet.empty)((s, g) => s.add("srv-1", g.toLong)))

  private def planned(stream: GtidReplayStream, start: GtidOffset, end: GtidOffset) =
    stream.planInputPartitions(start, end).toVector
      .flatMap(_.asInstanceOf[GtidReplayPartition].rows)

  test("window: re-planning one batch fetches nothing more") {
    val counting = new CountingTransport((1L to 10L).map(row).toVector)
    val stream = new GtidReplayStream(
      Seq(("srv-1", "unused")), numPartitions = 2, maxRowsPerBatch = Some(4),
      transportFactory = _ => counting)
    val start = stream.initialOffset().asInstanceOf[GtidOffset]
    val end = stream.latestOffset(start, stream.getDefaultReadLimit).asInstanceOf[GtidOffset]
    assert(counting.calls == 1)
    val plans = Vector.fill(3)(planned(stream, start, end))
    assert(counting.calls == 1, "planning a range the window covers never fetches")
    assert(plans.distinct.length == 1)
    assert(plans.head.map(_.pos) == Vector(1L, 2L, 3L, 4L))
  }

  test("window: a restarted query's re-plan fetches once, returns end − start") {
    val counting = new CountingTransport((1L to 10L).map(row).toVector)
    val stream = new GtidReplayStream(
      Seq(("srv-1", "unused")), numPartitions = 2, transportFactory = _ => counting)
    assert(planned(stream, offset(1 to 3), offset(1 to 7)).map(_.pos) ==
      Vector(4L, 5L, 6L, 7L))
    assert(counting.calls == 1)
  }

  test("binlog buffer transport: commit trims the decoded tail, a fresh transport replays all") {
    // the decoded tail is the stream's window: the transport keeps none
    val id = BinlogBuffers.register(segment1(), segment2)
    var transport: BinlogTransport = null
    val stream = new GtidReplayStream(
      Seq((U, s"binlog:$id")), numPartitions = 2, maxRowsPerBatch = Some(2),
      transportFactory = b => { transport = GtidReplayStream.defaultTransport(b); transport })
    // the cap admits tx 1 (two rows) alone
    val end = stream.latestOffset(stream.initialOffset(), stream.getDefaultReadLimit)
    val all = stream.window(U).map(_.pos)
    assert(all.distinct == Vector(1L, 2L, 3L, 4L)) // tx 5 never committed
    // another server's GTIDs trim nothing
    stream.commit(GtidOffset(GtidSet.empty.add("other-uuid", 1).add("other-uuid", 2)))
    assert(stream.window(U).map(_.pos) == all)
    stream.commit(end)
    assert(stream.window(U).map(_.pos) == all.filter(_ > 1L), "only rows above end stay")
    assert(transport.fetch().isEmpty, "the transport keeps no decoded tail of its own")
    // a fresh stream (a query restart) replays from the first segment
    val fresh = new GtidReplayStream(Seq((U, s"binlog:$id")), numPartitions = 2)
    val start = fresh.initialOffset().asInstanceOf[GtidOffset]
    val replayed = fresh.latestOffset(start, ReadLimit.allAvailable()).asInstanceOf[GtidOffset]
    assert(planned(fresh, start, replayed).map(_.pos) == all)
  }

  test("window: transports that repeat transactions still deliver each row once") {
    val rows = Vector(row(1), row(1), row(2), row(3), row(3), row(3), row(4))
    val more = Vector(row(5), row(5), row(6))
    /** Runs batches of at most 2 rows to the end, committing each;
      * `grow` runs before the third. */
    def drain(id: String, factory: String => BinlogTransport, grow: () => Unit) = {
      val stream = new GtidReplayStream(
        Seq(("srv-1", id)), numPartitions = 2, maxRowsPerBatch = Some(2),
        transportFactory = factory)
      var off = stream.initialOffset().asInstanceOf[GtidOffset]
      var delivered = Vector.empty[FeedRow]
      (0 until 20).foreach { batch =>
        if (batch == 2) grow()
        val next = stream.latestOffset(off, stream.getDefaultReadLimit).asInstanceOf[GtidOffset]
        delivered ++= planned(stream, off, next)
        stream.commit(next)
        off = next
      }
      delivered
    }
    // BufferTransport serves the whole (growing) buffer on every fetch
    val id = GtidReplayBuffers.register(rows)
    assert(drain(id, GtidReplayStream.defaultTransport,
      () => GtidReplayBuffers.append(id, more)) == rows ++ more)
    val flaky = new FlakyTransport(2, rows ++ more)
    assert(drain("unused", _ => new ReconnectingTransport(flaky, sleep = _ => ()),
      () => ()) == rows ++ more)
  }
}
