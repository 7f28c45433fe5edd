package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.{BinlogBuffers, BinlogDecoder}

/** Everything one run shares: the session, its seed and duration, and
  * (traced runs only) the job ledger.
  */
final class Env(val spark: SparkSession, val seed: Long, val seconds: Double, val traced: Boolean,
    val work: String, val data: String, val cpus: Int, val ledger: JobLedger) {
  val tally = new Tally
  val progress = new Progress
  private val dirs = new java.util.concurrent.atomic.AtomicInteger(0)
  def freshDir(tag: String): String = s"$work/$tag-${dirs.incrementAndGet()}"
}

/** A workload's numbers: end-to-end metrics, per-layer metrics, and the
  * pieces of its set-up (input preparation, repeated; the warm pass).
  */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
    prepS: Seq[Double], warmS: Double)

object Workloads {
  private val t0 = System.nanoTime()
  /** Phase marks on stderr, for reading a run's log. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.2fs] $msg")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Waits, after a warm pass, until the JIT has finished the compiles
    * that pass queued: compile time grows by under 20 ms in a 200 ms
    * window, or 8 s pass. Otherwise C2 compiles at the start of the
    * measured window compete with it for the cores, by an amount that
    * depends on how busy the host is.
    */
  def settleJit(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    val until = t0 + 8000000000L
    var last = jit.getTotalCompilationTime
    var busy = true
    while (busy && System.nanoTime() < until) {
      Thread.sleep(200)
      val now = jit.getTotalCompilationTime
      busy = now - last >= 20
      last = now
    }
    log(f"JIT settled after ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** Input preparation, repeated so set-up time is a median. */
  def prepare[T](times: Int)(body: => T): (T, Seq[Double]) = {
    val runs = (1 to times).map(_ => timed(body))
    (runs.last._1, runs.map(_._2))
  }

  /** decode + toFeedRows throughput over `bytes`, MB/s. */
  def decodeMbPerS(bytes: Seq[Array[Byte]]): Double = {
    val total = bytes.map(_.length.toLong).sum
    var n = 0
    val (_, s) = timed {
      val until = System.nanoTime() + 500000000L
      while (n < 3 || System.nanoTime() < until) {
        bytes.foreach(b => BinlogDecoder.toFeedRows(BinlogDecoder.decode(b)))
        n += 1
      }
    }
    total * n / s / (1 << 20)
  }
}

/** Per-layer metrics from the traced run's spans, job ledger, stream
  * progress and generator counters. Layers a workload does not reach
  * report 0.
  */
object Layers {
  val queryMetrics = Seq("ms", "jobs", "driver_gap_ms", "shuffle_bytes", "spill_bytes")

  val names: Seq[String] = Seq(
    "sources.transport.fetch_calls_per_batch", "sources.transport.fetch_ms_p50",
    "sources.transport.retries", "sources.transport.rows_returned_max",
    "sources.transport.connects_per_batch", "sources.transport.event_packets_per_tx",
    "sources.codec.decode_mb_per_s",
    "sources.stream.latest_offset_ms", "sources.stream.query_planning_ms",
    "sources.stream.wal_commit_ms", "sources.stream.batches", "sources.stream.rows_per_batch",
    "cdc.apply.batch_ms_p50", "cdc.apply.batch_ms_p90", "cdc.apply.jobs_per_batch",
    "cdc.apply.driver_gap_ms_per_batch", "cdc.apply.shuffle_bytes_per_batch",
    "cdc.apply.cow_batch_ms_p50", "cdc.apply.cow_jobs_per_batch",
    "cdc.apply.cow_driver_gap_ms_per_batch", "cdc.apply.cow_shuffle_bytes_per_batch",
    "cdc.apply.spill_bytes", "cdc.apply.compact_ms", "cdc.apply.lock_wait_ms",
    "cdc.state.files", "cdc.state.bytes_per_live_row", "cdc.watermark.lag_tx_p90",
    "cdc.read.ms_p50", "cdc.read.jobs", "cdc.read.lock_wait_ms",
    "cdc.snapshot.rows_per_s", "cdc.snapshot.jobs", "cdc.snapshot.chunk_ms_p50",
    "gen.late_ms_max", "gen.busy_ms", "jvm.gc_ms", "jvm.heap_after_gc_mb") ++
    QueryMix.names.flatMap(q => queryMetrics.map(m => s"ops.$q.$m"))

  def zero: Map[String, Double] = names.map(_ -> 0.0).toMap

  /** Count, then per-call jobs, driver gap and shuffle bytes of `spans`. */
  private def perCall(env: Env, spans: Seq[Span]): (LayerTotals, Double) =
    (env.ledger.totals(spans), math.max(1, spans.size).toDouble)

  /** Every layer of one traced CDC session whose spans started after
    * `since` (nanoTime); the tail phase began at `tailSince`.
    */
  def cdc(env: Env, s: CdcFlow.Session, in: CdcFlow.Input, since: Long, tailSince: Long): Map[String, Double] = {
    val spans = Trace.all.filter(_.startNs >= since)
    def named(n: String) = spans.filter(_.name == n)
    val batches = env.progress.since(since)
    val fetches = named("sources.transport.fetch")
    val tailFetches = fetches.filter(_.startNs >= tailSince)
    val (mor, nMor) = perCall(env, named("cdc.apply.mor"))
    val (cow, nCow) = perCall(env, named("cdc.apply.cow"))
    val (compact, _) = perCall(env, named("cdc.compact"))
    val (read, nRead) = perCall(env, named("cdc.read"))
    val snaps = named("cdc.snapshot")
    val (snap, nSnap) = perCall(env, snaps)
    val chunkMs = snaps.flatMap { sp =>
      val ends = sp.startNs / 1e6 +: env.ledger.jobEndsAt(sp.id, "WatermarkStore")
      ends.zip(ends.drop(1)).map { case (a, b) => b - a }
    }
    val stateStats = graft.cdc.CdcPipeline.stateMetrics(env.spark, s.run.stateDir).collect()
    val files = stateStats.map(_.getAs[Int]("n_files").toLong).sum
    val bytesOnDisk = stateStats.map(_.getAs[Long]("bytes")).sum
    def dur(k: String) = Stats.median(batches.flatMap(_.durations.get(k)).map(_.toDouble))
    def ms(n: String) = named(n).map(_.ms)
    Map(
      "sources.transport.fetch_calls_per_batch" -> tailFetches.size / nMor,
      "sources.transport.fetch_ms_p50" -> Stats.median(tailFetches.map(_.ms)),
      "sources.transport.retries" -> fetches.count(_.counts.contains("failed")).toDouble,
      "sources.transport.rows_returned_max" ->
        (if (fetches.isEmpty) 0.0 else fetches.map(_.counts.getOrElse("rows", 0L)).max.toDouble),
      "sources.transport.connects_per_batch" -> in.server.connects.get / nMor,
      "sources.transport.event_packets_per_tx" -> in.server.eventPackets.get / in.live.size.toDouble,
      "sources.codec.decode_mb_per_s" -> Workloads.decodeMbPerS(in.segments),
      "sources.stream.latest_offset_ms" -> dur("latestOffset"),
      "sources.stream.query_planning_ms" -> dur("queryPlanning"),
      "sources.stream.wal_commit_ms" -> dur("walCommit"),
      "sources.stream.batches" -> (nCow + nMor),
      "sources.stream.rows_per_batch" -> Changes.rowCount(in.backlog ++ in.live) / (nCow + nMor),
      "cdc.apply.batch_ms_p50" -> Stats.median(ms("cdc.apply.mor")),
      "cdc.apply.batch_ms_p90" -> Stats.pct(ms("cdc.apply.mor"), 90),
      "cdc.apply.jobs_per_batch" -> mor.jobs / nMor,
      "cdc.apply.driver_gap_ms_per_batch" -> mor.driverGapMs / nMor,
      "cdc.apply.shuffle_bytes_per_batch" -> mor.shuffleBytes / nMor,
      "cdc.apply.cow_batch_ms_p50" -> Stats.median(ms("cdc.apply.cow")),
      "cdc.apply.cow_jobs_per_batch" -> cow.jobs / nCow,
      "cdc.apply.cow_driver_gap_ms_per_batch" -> cow.driverGapMs / nCow,
      "cdc.apply.cow_shuffle_bytes_per_batch" -> cow.shuffleBytes / nCow,
      "cdc.apply.spill_bytes" -> (mor.spillBytes + cow.spillBytes + compact.spillBytes).toDouble,
      "cdc.apply.compact_ms" -> Stats.median(ms("cdc.compact")),
      "cdc.apply.lock_wait_ms" -> s.run.lockWaitApplyNs.get / 1e6,
      "cdc.state.files" -> files.toDouble,
      "cdc.state.bytes_per_live_row" -> bytesOnDisk / math.max(1, Changes.model(in.all).size).toDouble,
      "cdc.watermark.lag_tx_p90" -> Stats.pct(s.run.lagTx.toSeq, 90),
      "cdc.read.ms_p50" -> Stats.median(ms("cdc.read")),
      "cdc.read.jobs" -> read.jobs / nRead,
      "cdc.read.lock_wait_ms" -> s.run.lockWaitReadNs.get / 1e6,
      "cdc.snapshot.rows_per_s" ->
        Changes.model(in.snap).size * nSnap / math.max(1e-9, ms("cdc.snapshot").sum / 1e3),
      "cdc.snapshot.jobs" -> snap.jobs / nSnap,
      "cdc.snapshot.chunk_ms_p50" -> Stats.median(chunkMs),
      "gen.late_ms_max" -> in.server.lateNsMax / 1e6,
      "gen.busy_ms" -> in.server.busyNs.get / 1e6)
  }

  def queries(env: Env, since: Long): Map[String, Double] = {
    val spans = Trace.all.filter(_.startNs >= since)
    QueryMix.names.flatMap { q =>
      val ss = spans.filter(_.name == s"ops.$q")
      val (t, n) = perCall(env, ss)
      Seq(s"ops.$q.ms" -> Stats.median(ss.map(_.ms)), s"ops.$q.jobs" -> t.jobs / n,
        s"ops.$q.driver_gap_ms" -> t.driverGapMs / n, s"ops.$q.shuffle_bytes" -> t.shuffleBytes / n,
        s"ops.$q.spill_bytes" -> t.spillBytes / n)
    }.toMap
  }
}

/** `cdc`: the capture pipeline end to end, in go-cdc's order.
  *
  *  1. Snapshot: the keys live after the first slice of a seeded change
  *     stream, written by `resumableSnapshot` and pinned at its last GTID.
  *  2. Backfill (closed loop, drain): the next slice, encoded into rotated
  *     binlog segments, is read through the `binlog:` route under a
  *     `maxRowsPerBatch` cap and merged copy-on-write.
  *  3. Live tail (open loop): a generator publishes transactions at a
  *     fixed rate, with Zipf-skewed keys, on a benchmark-owned binlog
  *     endpoint; the stream tails it through the production `socket:`
  *     route into merge-on-read apply with periodic compaction.
  *  4. Point reads (closed loop) of the merge-on-read state the tail left,
  *     with the deltas written since its last compaction.
  */
object CdcFlow {
  val backlogTraffic = Traffic(keys = 20000, zipfS = 0.0, maxRowsPerTx = 4, deleteFrac = 0.1)
  val liveTraffic = Traffic(keys = 20000, zipfS = 1.1, maxRowsPerTx = 3, deleteFrac = 0.05)
  val snapshotTx = 1200
  /** Rows of backlog: under the 1 000-row cap, always exactly 3 micro-batches. */
  val backlogRows = 2900
  val cap = 1000L
  val perSegment = 400
  val chunks = 2
  val rate = 25.0
  val triggerMs = 2000L
  val compactEvery = 2
  val reads = 6
  val snapshots = 2
  /** A publish later than this invalidates the run (open-loop timing). */
  val lateLimitMs = 200.0

  final case class Input(snap: Vector[Tx], backlog: Vector[Tx], live: Vector[Tx],
      segments: Vector[Array[Byte]], server: TailServer) {
    def all: Vector[Tx] = snap ++ backlog ++ live
  }

  def input(seed: Long, snapTx: Int, backRows: Int, liveSeconds: Double): Input = {
    val rnd = new scala.util.Random(seed)
    val present = mutable.Set.empty[Long]
    val snap = Changes.generate(rnd, backlogTraffic, 1L, snapTx, present)
    val back = Changes.generateRows(rnd, backlogTraffic, snapTx + 1L, backRows, present)
    val live = Changes.generate(rnd, liveTraffic, snapTx + back.size + 1L, (rate * liveSeconds).toInt, present)
    Input(snap, back, live, Changes.segments(back, perSegment), new TailServer(live, "repl", "s3cret"))
  }

  final case class Session(run: CdcRun, snapshotS: Double, drainS: Double, commitMs: Seq[Double],
      readMs: Seq[Double], tailSince: Long)

  def session(env: Env, in: Input, nReads: Int, snapshots: Int): Session = try {
    // the snapshot is repeated into fresh state tables and the last one is
    // carried on, so its time is a median
    val snapFrame = Changes.snapshotFrame(env.spark, in.snap)
    val snapPos = s"${Changes.Uuid}:1-${in.snap.last.gno}"
    val attempts = (1 to snapshots).map { _ =>
      val r = new CdcRun(env.spark, env.freshDir("cdc"), env.tally, env.traced)
      (r, r.snapshot(snapFrame, snapPos, chunks))
    }
    val run = attempts.last._1
    val snapS = Stats.median(attempts.map(_._2))
    Workloads.log(s"snapshots ${attempts.map(_._2)}")

    val id = BinlogBuffers.register(in.segments: _*)
    val back = in.backlog.map(_.gno)
    val cow = run.start("backfill", s"binlog:$id", cap, mor = false, 0, back, () => back.size, 0L, env.cpus)
    val drained = run.awaitCommitted(back, 120000)
    cow.query.stop()
    // the drain rate is taken per micro-batch, from the first batch's start
    // to each batch's commit, and the median batch stands for the drain:
    // query start-up is not backfill work, and one batch caught by a host
    // stall does not move the figure
    val commitsAt = back.flatMap(g => Option(run.committedNs.get(g))).distinct.sorted
    val batchS = (cow.firstApplyNs +: commitsAt).sliding(2).collect { case Seq(a, b) => (b - a) / 1e9 }.toSeq
    val drainS = Stats.median(batchS) * batchS.size
    val rows = Changes.rowCount(in.backlog)
    val need = math.ceil(rows.toDouble / cap).toInt
    if (!drained) env.tally.invalid("backfill did not commit the whole backlog")
    else if (cow.dataBatches < need)
      env.tally.invalid(s"admission: ${cow.dataBatches} micro-batches for $rows rows " +
        s"under a $cap-row cap (at least $need expected)")

    Workloads.log("backfill drained")
    val live = in.live.map(_.gno)
    val tailSince = System.nanoTime()
    val mor = run.start("tail", in.server.route, cap, mor = true, compactEvery, live,
      () => in.server.publishedCount, triggerMs, env.cpus)
    // publish once the stream is polling, so no transaction waits on query start-up
    val polling = System.nanoTime() + 60000000000L
    while (in.server.connects.get < 1 && System.nanoTime() < polling) Thread.sleep(10)
    in.server.publishAt(System.nanoTime(), 0, in.live.size, rate)
    val tailed = run.awaitCommitted(live, 60000)
    mor.query.stop()
    Workloads.log("tail committed")
    val reads = Reader.closed(run, new Changes.Keys(liveTraffic, new scala.util.Random(env.seed + 7)),
      if (tailed) nReads else 0)
    if (!tailed) env.tally.invalid("tail did not commit every published transaction")
    if (drained && tailed) run.check(in.all)
    val late = in.server.lateNsMax / 1e6
    if (late > lateLimitMs) env.tally.invalid(f"generator ran $late%.0f ms late")
    val commits = in.live.indices.flatMap { i =>
      Option(run.committedNs.get(in.live(i).gno)).map(c => (c - in.server.dueNs(i)) / 1e6)
    }
    Workloads.log(f"snapshot $snapS%.2f s, backfill $drainS%.2f s in ${cow.dataBatches} batches, " +
      s"tail ${mor.dataBatches} batches, ${reads.size} reads, generator late $late ms")
    Session(run, snapS, drainS, commits, reads, tailSince)
  } finally in.server.stop()

  def apply(env: Env): Outcome = {
    val (_, prepS) = Workloads.prepare(3)(input(env.seed, snapshotTx, backlogRows, env.seconds).server.stop())
    val (_, warmS) = Workloads.timed {
      session(env, input(env.seed + 1, 100, 800, 0.5), 1, 1)
      Workloads.settleJit()
    }
    Workloads.log(s"prepared in $prepS s, warm pass $warmS s")
    val in = input(env.seed, snapshotTx, backlogRows, env.seconds)
    val since = System.nanoTime()
    val s = session(env, in, reads, snapshots)
    val e2e = Map(
      "snapshot_s" -> s.snapshotS,
      "throughput_per_s" -> Changes.rowCount(in.backlog) / s.drainS,
      "op_p50_ms" -> Stats.median(s.commitMs),
      "read_p50_ms" -> Stats.median(s.readMs))
    val layers = if (env.traced) Layers.cdc(env, s, in, since, s.tailSince) else Map.empty[String, Double]
    Outcome(e2e, layers, prepS, warmS)
  }
}

/** `query_mix`: closed-loop passes over a fixed list of registered
  * queries on generated tables, with the relational control run between
  * the `ops` queries. Each query's result is written out; the last pass's
  * results are checked against the DuckDB oracle outside the timed
  * window. The untimed warm pass runs each query once.
  */
object QueryMix {
  val names: Seq[String] =
    Seq("s28_graph_search", "q54_pagerank", "d13_substring_dedup", "q3_top_orders", "cdc_snapshot")
  /** Plain relational read: the control that an `ops` change bypasses. */
  val control = "q3_top_orders"
  /** The stored-graph walk, whose time `op_p50_ms` reports. */
  val walk = "s28_graph_search"
  /** The snapshot query, whose time `snapshot_s` reports. */
  val snap = "cdc_snapshot"
  /** One pass. The queries whose times are end-to-end metrics run more
    * than once (the walk and the snapshot twice, the control four times,
    * spread over the pass), so no such metric rests on one execution.
    */
  val order: Seq[String] = Seq(walk, control, snap, "q54_pagerank", control, walk,
    "d13_substring_dedup", control, snap, control)

  /** Run `queries` over `data` in order: (query, execution ms). */
  def pass(env: Env, queries: Seq[String], data: String, out: String): Seq[(String, Double)] = queries.map { q =>
    env.tally.attempt()
    val (_, s) = Workloads.timed {
      try Trace.span(s"ops.$q", env.spark.sparkContext) {
        SparkEntry.queries(q)(env.spark, data).write.mode("overwrite").parquet(s"$out/$q")
      } catch { case e: Exception => env.tally.fail(s"$q: $e") }
    }
    env.spark.catalog.clearCache()
    q -> s * 1e3
  }

  def apply(env: Env, out: String): Outcome = {
    val (_, warmS) = Workloads.timed {
      pass(env, names, env.data, s"${env.work}/warm")
      Workloads.settleJit()
    }
    Workloads.log(s"warm pass $warmS s")
    val since = System.nanoTime()
    val runs = mutable.ArrayBuffer.empty[(String, Double)]
    while (runs.isEmpty || (System.nanoTime() - since) / 1e9 < env.seconds) {
      val p = pass(env, order, env.data, out)
      runs ++= p
      Workloads.log(s"pass: ${p.map { case (k, v) => f"$k=$v%.0f" }.mkString(" ")}")
    }
    def ms(q: String) = runs.collect { case (`q`, v) => v }.toSeq
    val e2e = Map(
      "snapshot_s" -> Stats.median(ms(snap)) / 1e3,
      "throughput_per_s" -> runs.size / (runs.map(_._2).sum / 1e3),
      "op_p50_ms" -> Stats.median(ms(walk)),
      "read_p50_ms" -> Stats.median(ms(control)))
    val layers = if (!env.traced) Map.empty[String, Double] else Layers.queries(env, since)
    Outcome(e2e, layers, Nil, warmS)
  }
}
