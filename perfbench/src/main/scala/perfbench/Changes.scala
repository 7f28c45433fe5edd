package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{GtidRange, GtidSet}
import graft.sources.{BinlogCodec, BinlogWriter}
import graft.streaming.FeedRow

/** One source transaction: every row shares the transaction's GTID
  * number as its position, and no key repeats inside a transaction.
  */
final case class Tx(gno: Long, rows: Vector[FeedRow])

/** The traffic shape of a generated change stream. */
final case class Traffic(keys: Int, zipfS: Double, maxRowsPerTx: Int, deleteFrac: Double)

/** Seeded change streams and the plain-Scala model they are checked
  * against.
  */
object Changes {
  val Uuid = "6f3c1a2e-5b7d-11ee-8c99-0242ac120002"
  private val TsBaseSec = 1735689600L // 2025-01-01T00:00:00Z

  /** Key sampler: Zipf(s) over `keys` ranks (uniform when s = 0), with
    * the ranks scattered over the key space by a seeded permutation.
    */
  final class Keys(t: Traffic, rnd: scala.util.Random) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(t.keys)(i => 1.0 / math.pow(i + 1.0, t.zipfS))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    private val perm: Array[Long] = rnd.shuffle((0 until t.keys).map(_.toLong)).toArray
    def next(): Long = {
      val u = rnd.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      perm(math.min(i, t.keys - 1))
    }
  }

  /** Transactions `firstGno until firstGno + n`, 1 to `maxRowsPerTx`
    * rows each: an absent key is inserted, a present one deleted with
    * probability `deleteFrac` and otherwise updated. `live` carries key
    * presence across calls, so consecutive slices of one stream stay
    * consistent.
    */
  def generate(rnd: scala.util.Random, t: Traffic, firstGno: Long, n: Int,
      live: mutable.Set[Long]): Vector[Tx] = {
    val keys = new Keys(t, rnd)
    (0 until n).map(i => tx(rnd, t, keys, firstGno + i, live)).toVector
  }

  /** As [[generate]], but as many transactions as it takes to reach
    * `rows` rows (at most `maxRowsPerTx - 1` more), so the micro-batch
    * count under a row cap does not depend on the seed.
    */
  def generateRows(rnd: scala.util.Random, t: Traffic, firstGno: Long, rows: Int,
      live: mutable.Set[Long]): Vector[Tx] = {
    val keys = new Keys(t, rnd)
    val out = Vector.newBuilder[Tx]
    var n, total = 0
    while (total < rows) {
      val next = tx(rnd, t, keys, firstGno + n, live)
      out += next
      total += next.rows.size
      n += 1
    }
    out.result()
  }

  private def tx(rnd: scala.util.Random, t: Traffic, keys: Keys, gno: Long,
      live: mutable.Set[Long]): Tx = {
    val width = 1 + rnd.nextInt(t.maxRowsPerTx)
    val pks = mutable.LinkedHashSet.empty[Long]
    while (pks.size < width) pks += keys.next()
    val ts = new java.sql.Timestamp((TsBaseSec + gno) * 1000L)
    Tx(gno, pks.toVector.map { pk =>
      val op =
        if (!live(pk)) { live += pk; "insert" }
        else if (rnd.nextDouble() < t.deleteFrac) { live -= pk; "delete" }
        else "update"
      FeedRow(gno, ts, pk, op, math.round(rnd.nextDouble() * 100000) / 100.0)
    })
  }

  /** Latest-wins per key by position; a delete removes the key. */
  def model(txs: Iterable[Tx]): Map[Long, FeedRow] = {
    val m = mutable.HashMap.empty[Long, FeedRow]
    txs.foreach(_.rows.foreach(r => if (r.op == "delete") m -= r.pk else m(r.pk) = r))
    m.toMap
  }

  def gtids(txs: Iterable[Tx]): GtidSet =
    txs.foldLeft(GtidSet.empty)((acc, t) => acc.addRange(Uuid, GtidRange(t.gno, t.gno)))

  def rowCount(txs: Iterable[Tx]): Long = txs.map(_.rows.size.toLong).sum

  /** Append one transaction as GTID, TABLE_MAP, one rows event per row
    * and XID — the binlog shape the decoder assembles back into rows.
    */
  def encode(w: BinlogWriter.Stream, tx: Tx): Unit = {
    val tsSec = tx.rows.head.ts.getTime / 1000
    w.gtid(Uuid, tx.gno, tsSec)
      .tableMap(1L, "bench", "events",
        Seq(BinlogCodec.TYPE_LONGLONG, BinlogCodec.TYPE_DOUBLE), Seq(0, 8), tsSec)
    tx.rows.foreach { r =>
      r.op match {
        case "insert" => w.writeRows(1L, Seq(Seq(Some(r.pk), Some(r.value))), tsSec)
        case "update" =>
          w.updateRows(1L, Seq((Seq(Some(r.pk), None), Seq(Some(r.pk), Some(r.value)))), tsSec)
        case _ => w.deleteRows(1L, Seq(Seq(Some(r.pk), Some(r.value))), tsSec)
      }
    }
    w.xid(tx.gno, tsSec)
  }

  /** Rotated archive segments of at most `perSegment` transactions, each
    * a self-contained binlog file.
    */
  def segments(txs: Seq[Tx], perSegment: Int): Vector[Array[Byte]] =
    txs.grouped(perSegment).map { g =>
      val w = new BinlogWriter.Stream()
      g.foreach(encode(w, _))
      w.bytes
    }.toVector

  /** A snapshot of the keys live after `txs`, in the stream's feed shape
    * (the `source` column included, so the first streamed batch meets
    * the same table schema).
    */
  def snapshotFrame(spark: SparkSession, txs: Iterable[Tx]): DataFrame = {
    import spark.implicits._
    model(txs).values.toSeq.sortBy(_.pk)
      .map(r => (r.pos, r.ts, r.pk, r.op, r.value, Uuid))
      .toDF("pos", "ts", "pk", "op", "value", "source")
  }
}

/** The correctness checks every CDC run ends with. */
object Check {
  type StateRow = (Long, Long, String, Double) // pk, pos, op, value

  def expected(model: Map[Long, FeedRow]): Set[StateRow] =
    model.values.map(r => (r.pk, r.pos, r.op, r.value)).toSet

  def state(expect: Set[StateRow], actual: Seq[StateRow]): Option[String] =
    if (actual.size != actual.toSet.size) Some(s"state holds duplicate rows")
    else {
      val missing = expect -- actual
      val extra = actual.toSet -- expect
      if (missing.isEmpty && extra.isEmpty) None
      else Some(s"state differs from the model: ${missing.size} missing " +
        s"(e.g. ${missing.take(2).mkString(",")}), ${extra.size} unexpected " +
        s"(e.g. ${extra.take(2).mkString(",")})")
    }

  def watermark(expect: GtidSet, actual: GtidSet): Option[String] =
    if (expect.serialize == actual.serialize) None
    else Some(s"watermark ${actual.serialize} != generated ${expect.serialize}")

  def readState(spark: SparkSession, dir: String): Seq[StateRow] =
    graft.cdc.CdcPipeline.readState(spark, dir)
      .select("pk", "pos", "op", "value").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))

  /** The checker must reject a state missing the last transaction and a
    * watermark with a hole in it; returns the failures of that test.
    */
  def selfTest(txs: Vector[Tx]): Seq[String] = {
    val full = expected(Changes.model(txs))
    val lacking = expected(Changes.model(txs.dropRight(1))).toSeq
    val set = Changes.gtids(txs)
    val hole = Changes.gtids(txs.filterNot(_.gno == txs(txs.size / 2).gno))
    Seq(
      state(full, lacking).fold(Option("accepted a state missing one transaction"))(_ => None),
      watermark(set, hole).fold(Option("accepted a watermark with a hole"))(_ => None),
      state(full, full.toSeq).map("rejected the correct state: " + _),
      watermark(set, set).map("rejected the correct watermark: " + _)
    ).flatten
  }
}
