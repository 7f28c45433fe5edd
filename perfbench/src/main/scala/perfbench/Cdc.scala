package perfbench

import java.util.concurrent.locks.ReentrantLock

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cdc.{CdcPipeline, SnapshotJob, WatermarkStore}
import graft.model.GtidSet
import graft.sources.GtidReplayProvider

/** What the run counts as attempted and failed, across threads. */
final class Tally {
  private val errs = mutable.ArrayBuffer.empty[String]
  @volatile var attempted = 0L
  @volatile var failed = 0L
  def attempt(): Unit = synchronized { attempted += 1 }
  def fail(msg: String): Unit = synchronized { failed += 1; if (errs.size < 20) errs += msg }
  /** A check that failed outside any counted operation. */
  def invalid(msg: String): Unit = synchronized { if (errs.size < 20) errs += msg; bad = true }
  @volatile private var bad = false
  def ok: Boolean = synchronized(!bad && failed == 0)
  def errors: Seq[String] = synchronized(errs.toSeq)
}

/** Micro-batch progress of the benchmark's own streams: the phase
  * durations of each trigger that ran a batch. (Its input row count is
  * not used: with several actions inside `foreachBatch` it counts some
  * batches more than once and others not at all.)
  */
final class Progress extends StreamingQueryListener {
  final case class Batch(atNs: Long, durations: Map[String, Long])
  private val batches = mutable.ArrayBuffer.empty[Batch]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.durationMs.containsKey("addBatch"))
      batches += Batch(System.nanoTime(), p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
  def since(t: Long): Seq[Batch] = synchronized(batches.filter(_.atNs >= t).toSeq)
}

/** One CDC pipeline instance: a state table bootstrapped from a
  * snapshot, then a checkpointed stream over `route` whose micro-batches
  * go through the library's gated apply. A benchmark lock serializes
  * each apply against the point reads, since the parquet state has no
  * snapshot isolation.
  */
final class CdcRun(spark: SparkSession, dir: String, tally: Tally, traced: Boolean) {
  val stateDir = s"$dir/state"
  val store = new WatermarkStore(s"$dir/wm")
  val lock = new ReentrantLock()
  val lockWaitApplyNs = new java.util.concurrent.atomic.AtomicLong(0)
  val lockWaitReadNs = new java.util.concurrent.atomic.AtomicLong(0)
  private val sc = spark.sparkContext

  /** Snapshot `snap` (the keys live at `pos`), chunked by key; returns seconds. */
  def snapshot(snap: DataFrame, pos: String, chunks: Int): Double = {
    val t0 = System.nanoTime()
    tally.attempt()
    try Trace.span("cdc.snapshot", sc) {
      CdcPipeline.resumableSnapshot(spark, store, stateDir, Changes.Uuid, snap, "pk", chunks, pos)
    } catch { case e: Exception => tally.fail(s"snapshot: $e") }
    (System.nanoTime() - t0) / 1e9
  }

  def watermark: GtidSet = store.watermark(spark, Changes.Uuid, SnapshotJob.schemaName, "events")

  /** Commit time (nanoTime) of each generated GTID number, stamped when
    * the watermark first covers it after an apply returns.
    */
  val committedNs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  /** Transactions published but not yet committed, after each
    * merge-on-read apply (the open-loop tail; a drain has its whole
    * backlog published from the start).
    */
  val lagTx = mutable.ArrayBuffer.empty[Double]

  /** A running stream and what its applies counted. */
  final class Feed(val gnos: IndexedSeq[Long]) {
    var query: StreamingQuery = _
    @volatile var dataBatches = 0
    @volatile var firstApplyNs = 0L
  }

  /** Start a stream over `route`. `mor` appends deltas and compacts every
    * `compactEvery` batches; otherwise every batch is a copy-on-write
    * merge. `gnos` are the GTID numbers the stream will deliver, in
    * order; `published` says how many of them are out so far.
    */
  def start(name: String, route: String, cap: Long, mor: Boolean, compactEvery: Int,
      gnos: IndexedSeq[Long], published: () => Int, triggerMs: Long, parallelism: Int): Feed = {
    val feed = new Feed(gnos)
    var next = 0 // index into gnos of the first not yet committed
    val apply: (DataFrame, Long) => Unit = { (batch, batchId) =>
      val w0 = System.nanoTime()
      if (feed.firstApplyNs == 0L) feed.firstApplyNs = w0
      lock.lock()
      val t0 = System.nanoTime()
      lockWaitApplyNs.addAndGet(t0 - w0)
      tally.attempt()
      try {
        if (mor) {
          Trace.span("cdc.apply.mor", sc)(CdcPipeline.appendDeltas(spark, store, stateDir, Changes.Uuid, batch))
          if ((batchId + 1) % compactEvery == 0)
            Trace.span("cdc.compact", sc)(CdcPipeline.compact(spark, stateDir))
        } else
          Trace.span("cdc.apply.cow", sc)(CdcPipeline.applyBatch(spark, store, stateDir, Changes.Uuid, batch))
      } catch { case e: Exception => tally.fail(s"apply batch $batchId: $e") }
      finally lock.unlock()
      val now = System.nanoTime()
      val wm = watermark
      val before = next
      while (next < gnos.size && wm.contains(Changes.Uuid, gnos(next))) {
        committedNs.put(gnos(next), now); next += 1
      }
      if (next > before) feed.dataBatches += 1
      if (mor) lagTx += (published() - next).toDouble
      ()
    }
    val provider =
      if (traced) classOf[TracedReplayProvider].getName else classOf[GtidReplayProvider].getName
    feed.query = spark.readStream.format(provider)
      .option("bufferId", route).option("uuid", Changes.Uuid)
      .option("maxRowsPerBatch", cap.toString).option("numPartitions", parallelism.toString)
      .load()
      .writeStream
      .queryName(name)
      .option("checkpointLocation", s"$dir/checkpoint-$name")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch(apply)
      .start()
    feed
  }

  /** Block until every one of `gnos` is committed or `timeoutMs` passes. */
  def awaitCommitted(gnos: IndexedSeq[Long], timeoutMs: Long): Boolean = {
    val until = System.currentTimeMillis() + timeoutMs
    while (!committedNs.containsKey(gnos.last) && System.currentTimeMillis() < until) Thread.sleep(5)
    committedNs.containsKey(gnos.last)
  }

  /** One point read of the current state, under the benchmark lock. */
  def pointRead(pk: Long): Unit = {
    val w0 = System.nanoTime()
    lock.lock()
    lockWaitReadNs.addAndGet(System.nanoTime() - w0)
    tally.attempt()
    try Trace.span("cdc.read", sc) {
      CdcPipeline.readState(spark, stateDir).filter(col("pk") === pk).collect()
    } catch { case e: Exception => tally.fail(s"read $pk: $e") }
    finally lock.unlock()
  }

  /** End checks: state equals the latest-wins model, watermark equals
    * exactly the generated GTID set.
    */
  def check(txs: Vector[Tx]): Unit = {
    Check.state(Check.expected(Changes.model(txs)), Check.readState(spark, stateDir))
      .foreach(tally.invalid)
    Check.watermark(Changes.gtids(txs), watermark).foreach(tally.invalid)
  }
}

object Reader {
  /** Closed-loop point reads, each issued when the previous returns. */
  def closed(run: CdcRun, keys: Changes.Keys, n: Int): Seq[Double] = (1 to n).map { _ =>
    val t0 = System.nanoTime()
    run.pointRead(keys.next())
    (System.nanoTime() - t0) / 1e6
  }
}
