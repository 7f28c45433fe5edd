package graft.cdc

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.Tables

/** End-to-end checkpointed streaming: readStream over the events
  * parquet → foreachBatch gated apply → state table + watermark file.
  * Covers the three resume-protocol behaviors: first run applies,
  * checkpoint resume reprocesses nothing, and a replay from a fresh
  * checkpoint is GTID-gated into a no-op (`docs/全量抓取逻辑.md:44-52`).
  */
class CdcPipelineSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("chunk checksum flags exactly the drifted chunks, and each failure class shows its signature") {
    val rows = CdcQueries.queries("cdc_chunk_checksum")(spark, sf).collect()
    val maxPk = Tables.customer(spark, sf)
      .agg(org.apache.spark.sql.functions.max("c_custkey")).collect()(0).getLong(0)
    // expected drift per chunk from the planted classes
    val dropped = (0L to maxPk).filter(_ % 125 == 124).groupBy(_ / 50).view.mapValues(_.size)
    val corrupted = (0L to maxPk).filter(_ % 111 == 37).map(_ / 50).toSet
    assert(rows.length == (maxPk / 50 + 1).toInt, "every chunk gets a verdict row")
    rows.foreach { r =>
      val c = r.getAs[Long]("chunk_id")
      val countBroken = dropped.contains(c)
      val sumBroken = countBroken || corrupted.contains(c)
      assert(r.getAs[Int]("chunk_match") == (if (sumBroken) 0 else 1),
        s"chunk $c: expected match=${!sumBroken}")
      // a lost row shows as a count gap; a corrupted row keeps counts equal
      assert(r.getAs[Long]("src_rows") - r.getAs[Long]("dst_rows") ==
        dropped.getOrElse(c, 0).toLong, s"chunk $c: row-count drift must equal planted drops")
      if (!countBroken && corrupted.contains(c))
        assert(r.getAs[Long]("src_sum") != r.getAs[Long]("dst_sum"),
          s"chunk $c: corruption must surface in the checksum when counts agree")
    }
    assert(rows.exists(_.getAs[Int]("chunk_match") == 1), "clean chunks must verify")
    assert(rows.exists(r => r.getAs[Long]("src_rows") == r.getAs[Long]("dst_rows") &&
      r.getAs[Int]("chunk_match") == 0),
      "at least one corruption must be caught by checksum alone")
  }

  test("feedStream constructs ahead of its producer — empty feed dir") {
    // A streaming source must be constructible BEFORE the producer
    // writes its first file (the reason streaming reads take an
    // up-front schema; the dir itself must exist — Spark's streaming
    // DataSource checks the path at construction either way). The
    // schema probe can't infer from an empty dir, so feedStream falls
    // back to the fixture-contract schema — without the fallback this
    // throws UNABLE_TO_INFER_SCHEMA at construction.
    val dir = s"target/tmp/cdcempty-${System.nanoTime()}"
    new File(dir).mkdirs()
    val ahead = CdcPipeline.feedStream(spark, dir)
    assert(ahead.isStreaming)
    assert(ahead.schema.fieldNames.contains("pk"), "normalized feed shape expected")
    // and the probed path still wins when files DO exist: the real
    // fixture dir reads through the same entry point
    assert(CdcPipeline.feedStream(spark, s"$sf/events.parquet").isStreaming)
  }

  private def expectedState(): Set[(Long, Long, String)] =
    ChangeFeed
      .latestState(ChangeFeed.fromEvents(Tables.events(spark, sf)))
      .select("pk", "pos", "op")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet

  private def stateRows(dir: String): Set[(Long, Long, String)] =
    spark.read.parquet(dir).select("pk", "pos", "op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  /** Bucket count the per-bucket specs preset: a new table starts at
    * one bucket, so specs about touched, cold or emptied buckets commit
    * an empty manifest with this count and `feed`'s schema before the
    * first apply.
    */
  private val Preset = 8
  private def presetBuckets(dir: String, feed: org.apache.spark.sql.DataFrame): Unit =
    MetaTables.writeLog(dir, StateLog.empty(
      feed.withColumn(CdcPipeline.bucketCol, org.apache.spark.sql.functions.lit(0)).schema,
      CdcPipeline.bucketCol, Preset))

  /** The table's schema, as its manifest records it. */
  private def stateSchema(dir: String) = MetaTables.readLog(dir).get.struct

  /** Run `body`; return the Spark jobs it started and the plans of the
    * parquet writes (insert commands) it executed. Listener events
    * post asynchronously, hence the settle wait.
    */
  private def sparkWork(body: => Unit): (Int, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart
            if x.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          writes.add(x.physicalPlanDescription)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(1000)
    } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get(), writes.toArray(Array.empty[String]).toSeq)
  }

  /** `Exchange` operators in a physical plan's formatted description
    * (each node is listed once as `(k) Exchange`).
    */
  private def exchanges(plan: String): Int =
    "(?m)^\\(\\d+\\) Exchange\\b".r.findAllMatchIn(plan).size

  /** Run `body`, stopping it with an injected crash at the first
    * commit step named `step` taken in `dir`.
    */
  private def crashAt(dir: String, step: String)(body: => Any): Unit = {
    val at = java.nio.file.Paths.get(dir).toString
    MetaTables.onStep = (d, s) =>
      if (d == at && s == step) throw new IllegalStateException(s"injected crash at $s")
    try {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage == s"injected crash at $step", e.getMessage)
    } finally MetaTables.onStep = (_, _) => ()
  }

  private def maxMtime(dir: String): Long = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new File(dir)).map(_.lastModified()).max
  }

  test("run applies the feed, resumes from checkpoint, and gates replays") {
    val base = s"target/tmp/cdcpipe-${System.nanoTime()}"
    val state = s"$base/state"
    val wm = s"$base/wm"
    val ckpt1 = s"$base/ckpt1"

    // the file stream source wants a directory — stage the single
    // harness file into one
    val feedDir = new File(s"$base/feed")
    feedDir.mkdirs()
    java.nio.file.Files.copy(
      new File(s"$sf/events.parquet").toPath,
      new File(feedDir, "events.parquet").toPath)

    // 1. first run: full apply
    CdcPipeline.run(spark, feedDir.getPath, state, wm, ckpt1)
      .awaitTermination()
    assert(stateRows(state) == expectedState())
    val store = new WatermarkStore(wm)
    val pos1 = store.watermark(spark, "harness-src", "main", "events").serialize
    assert(pos1.nonEmpty)

    // 2. checkpoint resume: no new offsets, nothing reprocessed
    val t1 = maxMtime(state)
    CdcPipeline.run(spark, feedDir.getPath, state, wm, ckpt1)
      .awaitTermination()
    assert(maxMtime(state) == t1, "resume must not rewrite state")
    assert(store.watermark(spark, "harness-src", "main", "events").serialize == pos1)

    // 3. replay with a FRESH checkpoint (simulates a duplicated feed):
    // the batch GTID set is already covered -> subsetOf gate skips the
    // apply, state untouched
    CdcPipeline.run(spark, feedDir.getPath, state, wm, s"$base/ckpt2")
      .awaitTermination()
    assert(maxMtime(state) == t1, "replayed batch must be GTID-gated to a no-op")
    assert(stateRows(state) == expectedState())
  }

  test("incremental file arrival applies on top of existing state") {
    // the real CDC shape: a first batch materializes, later binlog
    // files arrive while the query is down, the next run applies only
    // the delta on top — final state must equal the one-shot result
    val base = s"target/tmp/cdcincr-${System.nanoTime()}"
    val feedDir = new File(s"$base/feed")
    feedDir.mkdirs()
    val full = Tables.events(spark, sf)
    val cut = 500L
    full.filter(org.apache.spark.sql.functions.col("event_id") <= cut)
      .coalesce(1).write.parquet(s"$base/half1")
    full.filter(org.apache.spark.sql.functions.col("event_id") > cut)
      .coalesce(1).write.parquet(s"$base/half2")
    def stage(src: String, name: String): Unit = {
      val f = new File(src).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath, new File(feedDir, name).toPath)
    }
    // halves were written through Tables.events (ts already micros) —
    // feed them through a stream that skips the nanos fix
    def run(ckpt: String) = {
      val store = new WatermarkStore(s"$base/wm")
      ChangeFeed.fromEvents(
        spark.readStream
          .schema(full.schema)
          .parquet(feedDir.getPath))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          CdcPipeline.applyBatch(b.sparkSession, store, s"$base/state", "harness-src", b)
        }
        .start()
        .awaitTermination()
    }
    stage(s"$base/half1", "part1.parquet")
    run(s"$base/ckpt")
    val afterHalf = stateRows(s"$base/state")
    stage(s"$base/half2", "part2.parquet")
    run(s"$base/ckpt")
    assert(stateRows(s"$base/state") == expectedState())
    assert(afterHalf != expectedState(), "the first half alone must differ (sanity)")
    val store = new WatermarkStore(s"$base/wm")
    val wm = store.watermark(spark, "harness-src", "main", "events")
    assert(wm.contains("harness-src", cut + 1))
  }

  test("bucketed COW merge rewrites only touched buckets") {
    import org.apache.spark.sql.functions.col
    val base = s"target/tmp/cdccow-${System.nanoTime()}"
    val store = new WatermarkStore(s"$base/wm")
    val full = ChangeFeed.fromEvents(Tables.events(spark, sf))

    // batch 1: the whole feed — populates one bucket per pk (mod
    // hash collisions)
    presetBuckets(s"$base/state", full)
    CdcPipeline.applyBatch(spark, store, s"$base/state", "src", full)
    def bucketFiles(): Map[String, Long] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new File(s"$base/state"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified())
        .toMap
    }
    val before = bucketFiles()
    assert(before.size >= 5, s"expected several buckets, got ${before.size}")

    // batch 2: later events for two keys only — must touch at most
    // two buckets
    val b2 = full.filter(col("pk").isin(0L, 1L))
      .withColumn("pos", col("pos") + 10000)
    CdcPipeline.applyBatch(spark, store, s"$base/state", "src", b2)
    val after = bucketFiles()
    val untouched = before.filter { case (p, t) => after.get(p).contains(t) }
    val rewritten = after.size - untouched.size
    assert(untouched.nonEmpty, "some buckets must survive untouched")
    assert(rewritten <= 2,
      s"a 2-key batch must rewrite <=2 bucket files (rewrote $rewritten of ${after.size})")
    // and the merged state must equal the one-shot materialization of
    // the full event sequence
    val expected = ChangeFeed
      .latestState(full.unionByName(b2))
      .select("pk", "pos", "op")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(stateRows(s"$base/state") == expected)
  }

  test("additive schema evolution conforms old state rows") {
    import org.apache.spark.sql.functions.{col, lit}
    val base = s"target/tmp/cdcevo-${System.nanoTime()}"
    val store = new WatermarkStore(s"$base/wm")
    val full = ChangeFeed.fromEvents(Tables.events(spark, sf))
    CdcPipeline.applyBatch(spark, store, s"$base/state", "src", full)
    // batch 2 arrives with an evolved schema (a new column) for two
    // keys — the downstream effect of a gated additive DDL event; the
    // migration must conform the other keys' rows with typed nulls
    val b2 = full.filter(col("pk").isin(0L, 1L))
      .withColumn("pos", col("pos") + 10000)
      .withColumn("region", lit("emea"))
    CdcPipeline.applyBatch(spark, store, s"$base/state", "src", b2)
    val state = spark.read.parquet(s"$base/state")
    assert(state.columns.contains("region"), "state schema must evolve")
    val (nulls, filled) = (
      state.filter(col("region").isNull).count(),
      state.filter(col("region") === "emea").count())
    assert(nulls > 0, "pre-evolution rows must null-fill the new column")
    assert(filled > 0, "post-evolution rows must carry the new column")
    val expected = ChangeFeed
      .latestState(full.unionByName(b2.drop("region")))
      .select("pk", "pos", "op")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(
      state.select("pk", "pos", "op").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
        == expected)
    // a third, schema-stable batch takes the COW path against the
    // evolved table (the manifest now carries `region`)
    CdcPipeline.applyBatch(spark, store, s"$base/state", "src",
      full.filter(col("pk") === 2L).withColumn("pos", col("pos") + 10000)
        .withColumn("region", lit("apac")))
    assert(spark.read.parquet(s"$base/state").columns.contains("region"))
  }

  test("snapshot bootstrap + incremental apply reproduces the full materialization") {
    import org.apache.spark.sql.functions.col
    val base = s"target/tmp/cdcboot-${System.nanoTime()}"
    val store = new WatermarkStore(s"$base/wm")
    val full = ChangeFeed.fromEvents(Tables.events(spark, sf))
    // snapshot is consistent as-of the PINNED position 0-500
    CdcPipeline.resumableSnapshot(spark, store, s"$base/state", "src",
      full.filter(col("pos") <= 500), chunkBy = "pk", numChunks = 1, pos = "src:0-500")
    val t1 = maxMtime(s"$base/state")
    // an incremental batch wholly below the snapshot position must
    // gate to a no-op — the docs' "apply only above the watermark"
    CdcPipeline.applyBatch(spark, store, s"$base/state", "src",
      full.filter(col("pos") <= 400))
    assert(maxMtime(s"$base/state") == t1,
      "covered incremental batch must not touch state")
    // the delta applies on top; final state = one-shot materialization
    CdcPipeline.applyBatch(spark, store, s"$base/state", "src",
      full.filter(col("pos") > 500))
    assert(stateRows(s"$base/state") == expectedState())
  }

  test("random batch slicings converge: COW and MOR == direct, any cut points (seeded)") {
    // the protocol's slicing-invariance as a seeded property: however
    // the feed is cut into batches, incremental COW apply and MOR
    // append+compact both reproduce the one-shot materialization.
    // Fixed-slicing variants exist above; this drives 3 random K-way
    // slicings through BOTH flavors.
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(42)
    val feed = ChangeFeed.fromEvents(Tables.events(spark, sf)).localCheckpoint(true)
    val maxPos = feed.agg(org.apache.spark.sql.functions.max(col("pos")))
      .head().getLong(0)
    val want = expectedState()
    (1 to 3).foreach { trial =>
      val cuts = (Seq(-1L, maxPos) ++
        Seq.fill(2 + rnd.nextInt(3))(rnd.nextLong(maxPos))).distinct.sorted
      val slices = cuts.zip(cuts.tail).map { case (lo, hi) =>
        feed.filter(col("pos") > lo && col("pos") <= hi)
      }
      val cowBase = s"target/tmp/cdcslice-cow-$trial-${System.nanoTime()}"
      val cowStore = new WatermarkStore(s"$cowBase/wm")
      slices.foreach(b =>
        CdcPipeline.applyBatch(spark, cowStore, s"$cowBase/state", "src", b))
      assert(stateRows(s"$cowBase/state") == want, s"COW trial $trial cuts $cuts")
      val morBase = s"target/tmp/cdcslice-mor-$trial-${System.nanoTime()}"
      val morStore = new WatermarkStore(s"$morBase/wm")
      slices.zipWithIndex.foreach { case (b, i) =>
        if (i == 0)
          CdcPipeline.applyBatch(spark, morStore, s"$morBase/state", "src", b)
        else
          CdcPipeline.appendDeltas(spark, morStore, s"$morBase/state", "src", b)
      }
      CdcPipeline.compact(spark, s"$morBase/state", maxFilesPerBucket = 2)
      val morRows = CdcPipeline.readState(spark, s"$morBase/state")
        .select("pk", "pos", "op").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(morRows == want, s"MOR trial $trial cuts $cuts")
    }
  }

  test("applyBatch is idempotent at the batch level") {
    val base = s"target/tmp/cdcbatch-${System.nanoTime()}"
    val store = new WatermarkStore(s"$base/wm")
    val batch = ChangeFeed.fromEvents(Tables.events(spark, sf))
    CdcPipeline.applyBatch(spark, store, s"$base/state", "src", batch)
    val t1 = maxMtime(s"$base/state")
    CdcPipeline.applyBatch(spark, store, s"$base/state", "src", batch)
    assert(maxMtime(s"$base/state") == t1)
    assert(stateRows(s"$base/state") == expectedState())
  }

  test("DSv2 GTID source streams end-to-end into the bucketed COW sink and resumes") {
    import graft.sources.{GtidReplayBuffers, GtidReplayProvider}
    import graft.streaming.FeedRow
    def row(pos: Long) = FeedRow(pos, new java.sql.Timestamp(pos * 1000L), pos % 7,
      if (pos % 11 == 0) "delete" else if (pos % 3 == 0) "update" else "insert",
      pos.toDouble)
    val phase1 = (1L to 30L).map(row)
    val phase2 = (31L to 60L).map(row)
    val id = GtidReplayBuffers.register(phase1)
    val base = s"target/tmp/cdce2e-${System.nanoTime()}"
    val store = new WatermarkStore(s"$base/wm")
    def run(): Unit = {
      val q = spark.readStream
        .format(classOf[GtidReplayProvider].getName)
        .option("bufferId", id)
        .load()
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          CdcPipeline.applyBatch(b.sparkSession, store, s"$base/state", "harness-src", b)
        }
        .start()
      q.awaitTermination()
    }
    def expect(rows: Seq[FeedRow]): Set[(Long, Long, String)] = {
      import spark.implicits._
      ChangeFeed.latestState(rows.toDF()).select("pk", "pos", "op").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    }
    run()
    assert(stateRows(s"$base/state") == expect(phase1))
    // binlog grows; a NEW run resumes from the checkpointed GTID set
    GtidReplayBuffers.append(id, phase2)
    run()
    assert(stateRows(s"$base/state") == expect(phase1 ++ phase2))
    // watermark advanced over both phases
    assert(store.watermark(spark, "harness-src", SnapshotJob.schemaName, "events")
      .serialize == "harness-src:1-60")
  }

  test("state metrics report every bucket; split doubles the count and preserves state") {
    import org.apache.spark.sql.functions._
    val base = s"target/tmp/cdcsplit-${System.nanoTime()}"
    val store = new WatermarkStore(s"$base/wm")
    val dir = s"$base/state"
    presetBuckets(dir, ChangeFeed.fromEvents(Tables.events(spark, sf)))
    CdcPipeline.applyBatch(spark, store, dir, "src",
      ChangeFeed.fromEvents(Tables.events(spark, sf)))
    val before = stateRows(dir)
    val m = CdcPipeline.stateMetrics(spark, dir, withRows = true).collect()
    assert(m.nonEmpty && m.forall(_.getAs[Long]("bytes") > 0))
    assert(m.map(_.getAs[Long]("n_rows")).sum == before.size)

    // under-threshold: no split
    assert(CdcPipeline.maybeSplit(spark, dir, maxBucketBytes = Long.MaxValue).isEmpty)
    assert(CdcPipeline.bucketCount(dir) == Preset)

    // a threshold at which the table needs twice its buckets forces the
    // split: count doubles, rows unchanged, and the doubling invariant
    // holds (old bucket b fans out only to b and b + n)
    val total = CdcPipeline.bucketFileStats(dir).map(_._3).sum
    assert(CdcPipeline.maybeSplit(spark, dir, maxBucketBytes = total / (2 * Preset) + 1)
      .contains(Preset * 2))
    assert(CdcPipeline.bucketCount(dir) == Preset * 2)
    assert(stateRows(dir) == before)
    val n = Preset
    val invariantViolations = spark.read
      .schema(stateSchema(dir)).parquet(dir)
      .select(col("pk"), col("bucket"))
      .withColumn("oldb", pmod(hash(col("pk")), lit(n)))
      .filter(col("bucket") =!= col("oldb") && col("bucket") =!= col("oldb") + n)
      .count()
    assert(invariantViolations == 0)

    // applyBatch after the split routes by the NEW count (the manifest wins
    // over the code default) and stays a no-op-safe COW apply
    CdcPipeline.applyBatch(spark, store, dir, "src2",
      ChangeFeed.fromEvents(Tables.events(spark, sf)))
    assert(stateRows(dir) == before)
    assert(CdcPipeline.stateMetrics(spark, dir, withRows = true)
      .agg(sum(col("n_rows"))).collect()(0)
      .getLong(0) == before.size)
  }

  test("merge-on-read deltas read back correctly and compact folds only hot buckets") {
    import org.apache.spark.sql.functions.col
    val base = s"target/tmp/cdcmor-${System.nanoTime()}"
    val store = new WatermarkStore(s"$base/wm")
    val dir = s"$base/state"
    val full = ChangeFeed.fromEvents(Tables.events(spark, sf))
      .localCheckpoint(true)
    val Array(q1, q2) = full.stat.approxQuantile("pos", Array(0.33, 0.66), 0.0)
    val (c1, c2) = (q1.toLong, q2.toLong)

    // base via COW, then two O(batch) delta appends
    presetBuckets(dir, full)
    CdcPipeline.applyBatch(spark, store, dir, "src", full.filter(col("pos") <= c1))
    CdcPipeline.appendDeltas(spark, store, dir, "src",
      full.filter(col("pos") > c1 && col("pos") <= c2))
    CdcPipeline.appendDeltas(spark, store, dir, "src", full.filter(col("pos") > c2))

    // merge-on-read equals the one-shot materialization
    def morRows(): Set[(Long, Long, String)] =
      CdcPipeline.readState(spark, dir).select("pk", "pos", "op").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(morRows() == expectedState())

    // deltas really did stack: some bucket carries base + 2 delta files
    val m1 = CdcPipeline.stateMetrics(spark, dir).collect()
    assert(m1.exists(_.getAs[Int]("n_files") >= 3),
      "delta appends must accumulate files in hot buckets")

    // replayed delta batch is GTID-gated into a no-op (same protocol
    // as the COW path)
    val t1 = maxMtime(dir)
    CdcPipeline.appendDeltas(spark, store, dir, "src", full.filter(col("pos") > c2))
    assert(maxMtime(dir) == t1, "replayed deltas must be gated to a no-op")

    // compact(2): buckets with <=2 files keep their exact files;
    // hotter ones fold to one file; state content is unchanged
    val cold = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val hot = m1.filter(_.getAs[Int]("n_files") > 2).map(_.getAs[Int]("bucket")).toSet
      walk(new File(dir)).filter(_.getName.endsWith(".parquet"))
        .filterNot(f => hot.exists(b => f.getPath.contains(s"bucket=$b/")))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val compacted = CdcPipeline.compact(spark, dir, maxFilesPerBucket = 2)
    assert(compacted.nonEmpty)
    assert(morRows() == expectedState(), "compaction must not change state content")
    val m2 = CdcPipeline.stateMetrics(spark, dir).collect()
    assert(m2.forall(_.getAs[Int]("n_files") <= 2), "hot buckets must fold")
    cold.foreach { case (p, t) =>
      assert(new File(p).lastModified() == t, s"cold bucket file rewritten: $p")
    }
  }

  test("resumableSnapshot: crash between chunk write and record, resume completes exactly") {
    import org.apache.spark.sql.functions.{col, lit}
    val base = s"target/tmp/cdcresume-${System.nanoTime()}"
    val store = new WatermarkStore(s"$base/wm")
    val dir = s"$base/state"
    val snap = Tables.customer(spark, sf).select(
      lit(0L).as("pos"),
      lit(new java.sql.Timestamp(0L)).as("ts"),
      col("c_custkey").as("pk"),
      lit("insert").as("op"),
      col("c_acctbal").cast("double").as("value"))
      .localCheckpoint(true)
    val n = 6
    def run(failAfter: Int): Seq[Int] =
      CdcPipeline.resumableSnapshot(spark, store, dir, "src", snap,
        chunkBy = "pk", numChunks = n, pos = "src:1-1", failAfterChunks = failAfter)

    // chunk progress as the state manifest commits it
    def done(): Seq[Int] =
      MetaTables.readLog(dir).toSeq.flatMap(_.chunks).filter(_.table == "events").flatMap(_.done)

    // crash after two chunks commit, before the third chunk's write
    intercept[IllegalStateException](run(failAfter = 2))
    val partial = done()
    assert(partial.sorted == partial.distinct.sorted && (0 until n).count(partial.contains) == 2,
      "exactly the two committed chunks are done")
    assert(store.watermark(spark, "src", SnapshotJob.schemaName, "events").isEmpty,
      "a half-done snapshot must NOT pin the table watermark")

    // resume: runs exactly the chunks the manifest does not name as done
    val resumed = run(failAfter = Int.MaxValue)
    assert(resumed.length == n - 2, "resume runs only uncommitted chunks")
    val full = done()
    assert((0 until n).forall(full.contains))
    assert(!store.watermark(spark, "src", SnapshotJob.schemaName, "events").isEmpty,
      "a finished snapshot pins the table watermark")

    // state == the table
    val got = CdcPipeline.readState(spark, dir).select("pk", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val want = snap.select("pk", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == want)

    // third run: covered no-op, zero chunks, zero file churn
    val t1 = maxMtime(dir)
    assert(run(failAfter = Int.MaxValue).isEmpty)
    assert(maxMtime(dir) == t1, "a covered snapshot must not rewrite state")

    // an EMPTY table snapshots to a complete, READABLE empty state
    val emptyDir = s"$base/empty-state"
    CdcPipeline.resumableSnapshot(spark, store, emptyDir, "src",
      snap.filter(org.apache.spark.sql.functions.lit(false)),
      chunkBy = "pk", numChunks = 4, pos = "src:1-1", table = "none")
    assert(CdcPipeline.readState(spark, emptyDir).count() == 0,
      "empty snapshot must leave a readable (empty) state table")
    assert(!store.watermark(spark, "src", SnapshotJob.schemaName, "none").isEmpty)
  }

  test("resumableSnapshot: an UNPINNED feed (drifted bounds) fails loudly on resume") {
    import org.apache.spark.sql.functions.{col, lit}
    val base = s"target/tmp/cdcdrift-${System.nanoTime()}"
    val store = new WatermarkStore(s"$base/wm")
    val dir = s"$base/state"
    def feed(maxKey: Long) = Tables.customer(spark, sf)
      .filter(col("c_custkey") <= maxKey)
      .select(
        lit(0L).as("pos"),
        lit(new java.sql.Timestamp(0L)).as("ts"),
        col("c_custkey").as("pk"),
        lit("insert").as("op"),
        col("c_acctbal").cast("double").as("value"))
    // first run pins the chunk geometry, then crashes mid-snapshot
    intercept[IllegalStateException](
      CdcPipeline.resumableSnapshot(spark, store, dir, "src", feed(Long.MaxValue),
        chunkBy = "pk", numChunks = 5, pos = "src:1-1", failAfterChunks = 1))
    // resuming against a feed whose key range MOVED (the caller broke
    // the pinned-read contract) must refuse to guess new chunk ranges
    val e = intercept[IllegalStateException](
      CdcPipeline.resumableSnapshot(spark, store, dir, "src", feed(10L),
        chunkBy = "pk", numChunks = 5, pos = "src:1-1"))
    assert(e.getMessage.contains("drifted"))
    // a feed that drifted all the way to EMPTY is the same violation —
    // the empty-complete early path must not mask it by marking every
    // chunk covered and pinning the table watermark
    val e2 = intercept[IllegalStateException](
      CdcPipeline.resumableSnapshot(spark, store, dir, "src", feed(-1L),
        chunkBy = "pk", numChunks = 5, pos = "src:1-1"))
    assert(e2.getMessage.contains("drifted") && e2.getMessage.contains("EMPTY"))
    assert(store.watermark(spark, "src", SnapshotJob.schemaName, "events").isEmpty,
      "the drifted-empty resume must not pin the table watermark")
    // the honest (pinned) feed still resumes to completion
    CdcPipeline.resumableSnapshot(spark, store, dir, "src", feed(Long.MaxValue),
      chunkBy = "pk", numChunks = 5, pos = "src:1-1")
    assert(!store.watermark(spark, "src", SnapshotJob.schemaName, "events").isEmpty)
  }

  test("resumableSnapshot property: any crash schedule converges to the direct read (seeded)") {
    import org.apache.spark.sql.functions.{col, lit}
    val snap = Tables.customer(spark, sf).select(
      lit(0L).as("pos"),
      lit(new java.sql.Timestamp(0L)).as("ts"),
      col("c_custkey").as("pk"),
      lit("insert").as("op"),
      col("c_acctbal").cast("double").as("value"))
      .localCheckpoint(true)
    val want = snap.select("pk", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val base = s"target/tmp/cdcresprop-$trial-${System.nanoTime()}"
      val store = new WatermarkStore(s"$base/wm")
      var attempts = 0
      var finished = false
      while (!finished) {
        attempts += 1
        assert(attempts <= 8, s"trial $trial: did not converge in $attempts attempts")
        // failAfter >= 1 guarantees progress: at least one chunk is
        // recorded per attempt even when the crash fires every time
        try {
          CdcPipeline.resumableSnapshot(spark, store, s"$base/state", "src",
            snap, chunkBy = "pk", numChunks = 5, pos = "src:1-1",
            failAfterChunks = rnd.nextInt(3) + 1)
          finished = true
        } catch { case _: IllegalStateException => () }
      }
      val got = CdcPipeline.readState(spark, s"$base/state")
        .select("pk", "value").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == want, s"trial $trial diverged after $attempts attempts")
      assert(!store.watermark(spark, "src", SnapshotJob.schemaName, "events").isEmpty)
    }
  }

  test("readStateAsOf: delta history answers AS OF; compaction sets the horizon") {
    import org.apache.spark.sql.functions.col
    val base = s"target/tmp/cdcasof-${System.nanoTime()}"
    val store = new WatermarkStore(s"$base/wm")
    val dir = s"$base/state"
    val full = ChangeFeed.fromEvents(Tables.events(spark, sf))
      .localCheckpoint(true)
    val Array(q1, q2) = full.stat.approxQuantile("pos", Array(0.33, 0.66), 0.0)
    val (c1, c2) = (q1.toLong, q2.toLong)
    CdcPipeline.applyBatch(spark, store, dir, "src", full.filter(col("pos") <= c1))
    CdcPipeline.appendDeltas(spark, store, dir, "src",
      full.filter(col("pos") > c1 && col("pos") <= c2))
    CdcPipeline.appendDeltas(spark, store, dir, "src", full.filter(col("pos") > c2))

    def asOfRows(p: Long): Set[(Long, Long, String)] =
      CdcPipeline.readStateAsOf(spark, dir, p).select("pk", "pos", "op").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // recompute the truth directly from the raw feed prefix
    def expectAt(p: Long): Set[(Long, Long, String)] =
      ChangeFeed.latestState(full.filter(col("pos") <= p))
        .select("pk", "pos", "op").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

    // above the bootstrap fold, AS OF replays delta history exactly
    assert(asOfRows(c2) == expectAt(c2))
    assert(asOfRows(Long.MaxValue) == expectedState(), "asOf at the tip == head")
    // strictly between the probes history really differs (the gate is
    // vacuous otherwise)
    assert(asOfRows(c2) != expectedState())

    // compaction folds history: an asOf at c2 now sees each key's
    // FOLDED row (kept only if its pos <= c2) — the documented
    // retention horizon, equal to filtering the head state by pos
    CdcPipeline.compact(spark, dir, maxFilesPerBucket = 1)
    val folded = CdcPipeline.readState(spark, dir)
      .filter(col("pos") <= c2).select("pk", "pos", "op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(asOfRows(c2) == folded)
  }

  test("streaming MOR mode: two checkpointed batches, compact fires on cadence, state == COW") {
    import org.apache.spark.sql.functions.col
    val base = s"target/tmp/cdcmormode-${System.nanoTime()}"
    val feedDir = new File(s"$base/feed")
    feedDir.mkdirs()
    val full = Tables.events(spark, sf)
    val cut = 500L
    full.filter(col("event_id") <= cut).coalesce(1).write.parquet(s"$base/half1")
    full.filter(col("event_id") > cut).coalesce(1).write.parquet(s"$base/half2")
    def stage(src: String, name: String): Unit = {
      val f = new File(src).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath, new File(feedDir, name).toPath)
    }
    // halves were written through Tables.events (ts already micros) —
    // stream them without the nanos fix, through the SAME applyFor
    // consumer run() wires
    def run(mode: CdcPipeline.ApplyMode, stateDir: String, wm: String, ckpt: String): Unit = {
      val store = new WatermarkStore(wm)
      ChangeFeed.fromEvents(
        spark.readStream.schema(full.schema).parquet(feedDir.getPath))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          CdcPipeline.applyFor(mode, store, stateDir, "harness-src")(b, id)
        }
        .start()
        .awaitTermination()
    }
    // MOR with compaction every 2nd batch
    val mor = CdcPipeline.Mor(compactEvery = 2, maxFilesPerBucket = 1)
    stage(s"$base/half1", "part1.parquet")
    run(mor, s"$base/morstate", s"$base/morwm", s"$base/morckpt")
    stage(s"$base/half2", "part2.parquet")
    run(mor, s"$base/morstate", s"$base/morwm", s"$base/morckpt")
    // cadence fired on batch 2: every bucket folded back to one file
    assert(CdcPipeline.bucketFileStats(s"$base/morstate").forall(_._2 <= 1),
      "compaction cadence must have folded every bucket")
    // the same feed through the COW mode, then bit-for-bit compare of
    // the merged state (all columns, not just the key triple)
    run(CdcPipeline.Cow, s"$base/cowstate", s"$base/cowwm", s"$base/cowckpt")
    def allRows(df: org.apache.spark.sql.DataFrame): Set[String] = {
      val cols = df.columns.sorted.map(col)
      df.select(cols: _*).collect().map(_.toString).toSet
    }
    assert(allRows(CdcPipeline.readState(spark, s"$base/morstate")) ==
      allRows(spark.read.parquet(s"$base/cowstate")),
      "MOR and COW apply flavors must materialize identical state")
  }

  test("compact target selection is FS-metadata only: a no-op compact runs zero Spark jobs") {
    import org.apache.spark.sql.functions.col
    val base = s"target/tmp/cdccompactnoop-${System.nanoTime()}"
    val store = new WatermarkStore(s"$base/wm")
    val dir = s"$base/state"
    presetBuckets(dir, ChangeFeed.fromEvents(Tables.events(spark, sf)))
    CdcPipeline.applyBatch(spark, store, dir, "src",
      ChangeFeed.fromEvents(Tables.events(spark, sf)))
    // COW wrote one file per bucket — every bucket is under any
    // threshold ≥ 1, so compact must decide "nothing to do" from the
    // directory listing alone, without launching a single job (the
    // O(state) row-count scan this control path used to pay)
    val (jobs, _) = sparkWork {
      assert(CdcPipeline.compact(spark, dir, maxFilesPerBucket = 4).isEmpty)
    }
    assert(jobs == 0, s"no-op compact must not launch Spark jobs (launched $jobs)")
    // and a real compact reads only the over-threshold buckets: force
    // deltas into one bucket, compact, verify cold-file mtimes in the
    // existing MOR test cover that path
    CdcPipeline.appendDeltas(spark, store, dir, "src",
      ChangeFeed.fromEvents(Tables.events(spark, sf))
        .filter(col("pk") === 0L).withColumn("pos", col("pos") + 10000))
    assert(CdcPipeline.compact(spark, dir, maxFilesPerBucket = 1).nonEmpty)
    assert(CdcPipeline.bucketFileStats(dir).forall(_._2 <= 1))
    // the delta advanced pk 0 by +10000; everything else is untouched
    val shifted = expectedState().map {
      case (0L, pos, op) => (0L, pos + 10000, op)
      case other => other
    }
    assert(stateRows(dir) == shifted)
  }

  test("bucket split with unmerged MOR deltas preserves merge-on-read state") {
    import org.apache.spark.sql.functions.col
    val base = s"target/tmp/cdcmorsplit-${System.nanoTime()}"
    val store = new WatermarkStore(s"$base/wm")
    val dir = s"$base/state"
    val full = ChangeFeed.fromEvents(Tables.events(spark, sf)).localCheckpoint(true)
    // COW base + a delta layer that has NOT been compacted: the split
    // must redistribute every key-version (base rows, delta rows,
    // tombstones) into the doubled layout so read-time latest-wins
    // still resolves each key from exactly one bucket
    presetBuckets(dir, full)
    CdcPipeline.applyBatch(spark, store, dir, "src",
      full.filter(col("pos") <= 500))
    CdcPipeline.appendDeltas(spark, store, dir, "src",
      full.filter(col("pos") > 500))
    val before = CdcPipeline.readState(spark, dir)
      .select("pk", "pos", "op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(before == expectedState())
    val next = CdcPipeline.splitBuckets(spark, dir)
    assert(next == Preset * 2)
    assert(CdcPipeline.readState(spark, dir)
      .select("pk", "pos", "op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet == before,
      "split must not change merge-on-read state")
    // and compaction after the split still folds to ≤1 file per bucket
    CdcPipeline.compact(spark, dir, maxFilesPerBucket = 1)
    assert(CdcPipeline.bucketFileStats(dir).forall(_._2 <= 1))
    assert(CdcPipeline.readState(spark, dir)
      .select("pk", "pos", "op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet == before)
  }

  test("MOR delta with a WIDER schema falls back to the COW migration") {
    import org.apache.spark.sql.functions.{col, lit}
    val base = s"target/tmp/cdcmorevo-${System.nanoTime()}"
    val store = new WatermarkStore(s"$base/wm")
    val dir = s"$base/state"
    val full = ChangeFeed.fromEvents(Tables.events(spark, sf))
    CdcPipeline.applyBatch(spark, store, dir, "src", full)
    // an evolved delta (new column) cannot append under the old
    // manifest schema — appendDeltas must take the one-off migration
    // path instead, after which old rows null-fill the new column
    CdcPipeline.appendDeltas(spark, store, dir, "src",
      full.filter(col("pk").isin(0L, 1L))
        .withColumn("pos", col("pos") + 10000)
        .withColumn("region", lit("emea")))
    val st = CdcPipeline.readState(spark, dir)
    assert(st.columns.contains("region"), "the manifest schema must evolve")
    assert(st.filter(col("region") === "emea").count() == 2)
    assert(st.filter(col("region").isNull).count() > 0)
    // a NARROWER delta (schema-stable subset) appends as a plain MOR
    // delta afterwards: missing columns read as null at merge time
    val b3 = full.filter(col("pk") === 2L).withColumn("pos", col("pos") + 20000)
    CdcPipeline.appendDeltas(spark, store, dir, "src", b3)
    val expected = ChangeFeed.latestState(full.unionByName(b3))
      .filter(col("pk") === 2L).select("pk", "pos", "op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val got = CdcPipeline.readState(spark, dir)
      .filter(col("pk") === 2L).select("pk", "pos", "op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == expected, "narrow delta must merge exactly under the evolved schema")
  }

  test("multi-table: one stream, per-table watermark rows, independent gating") {
    import org.apache.spark.sql.functions._
    val base = s"target/tmp/cdcmulti-${System.nanoTime()}"
    val feedDir = new File(s"$base/feed"); feedDir.mkdirs()
    java.nio.file.Files.copy(
      new File(s"$sf/events.parquet").toPath,
      new File(feedDir, "events.parquet").toPath)
    val demux = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("table",
        when(col("pk") % 2 === 0, "t_even").otherwise("t_odd"))

    // one checkpointed stream, N per-table sinks
    CdcPipeline.runMulti(spark, feedDir.getPath, s"$base/state", s"$base/wm",
      s"$base/ckpt", demux).awaitTermination()
    val store = new WatermarkStore(s"$base/wm")
    val wmRows = store.read(spark).collect().map(w => w.table -> w.pos).toMap
    assert(wmRows.keySet == Set("t_even", "t_odd"),
      "one watermark row per logical table (go_cdc_table_meta shape)")
    val exp = expectedState()
    assert(stateRows(s"$base/state/t_even") == exp.filter(_._1 % 2 == 0))
    assert(stateRows(s"$base/state/t_odd") == exp.filter(_._1 % 2 != 0))

    // independence: a batch fully covered for t_even but unseen by
    // t_odd must still apply to t_odd — a single global watermark
    // would suppress it and lose t_odd's rows
    val feed = demux(ChangeFeed.fromEvents(Tables.events(spark, sf)))
    val store2 = new WatermarkStore(s"$base/wm2")
    CdcPipeline.applyBatchMulti(spark, store2, s"$base/state2", "harness-src",
      feed.filter(col("table") === "t_even"))
    val t1 = maxMtime(s"$base/state2/t_even")
    CdcPipeline.applyBatchMulti(spark, store2, s"$base/state2", "harness-src", feed)
    assert(maxMtime(s"$base/state2/t_even") == t1,
      "covered table's redelivery must be a no-op")
    assert(stateRows(s"$base/state2/t_odd") == exp.filter(_._1 % 2 != 0),
      "the other table's first delivery must apply")
  }

  test("MOR delete tombstones survive until compaction and emptied buckets vanish") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val base = s"target/tmp/cdcmortomb-${System.nanoTime()}"
    val store = new WatermarkStore(s"$base/wm")
    val dir = s"$base/state"
    def feed(rows: (Long, Long, String)*) =
      rows.toSeq.toDF("pos", "pk", "op")
        .select(col("pos"), lit(new java.sql.Timestamp(0L)).as("ts"), col("pk"),
          col("op"), lit(1.0).as("value"), lit("{}").as("props"))
    // two keys in different buckets
    presetBuckets(dir, feed())
    CdcPipeline.applyBatch(spark, store, dir, "src",
      feed((1L, 10L, "insert"), (2L, 11L, "insert")))
    assert(CdcPipeline.bucketFileStats(dir).size == 2, "keys 10 and 11 must not share a bucket")
    // delta deletes key 10 — merge-on-read must hide it immediately
    CdcPipeline.appendDeltas(spark, store, dir, "src", feed((3L, 10L, "delete")))
    assert(CdcPipeline.readState(spark, dir).select("pk").as[Long].collect().toSet
      == Set(11L))
    // compaction folds the tombstone away; if the delete emptied its
    // bucket the directory itself must go
    CdcPipeline.compact(spark, dir, maxFilesPerBucket = 1)
    assert(CdcPipeline.readState(spark, dir).select("pk").as[Long].collect().toSet
      == Set(11L))
    val buckets = CdcPipeline.stateMetrics(spark, dir, withRows = true).collect()
    assert(buckets.forall(_.getAs[Long]("n_rows") > 0),
      "no bucket directory may survive with zero live rows")
  }

  test("a fresh table starts at one bucket: a COW batch, a MOR append and a snapshot chunk each write one file") {
    import org.apache.spark.sql.functions.{col, lit}
    val base = s"target/tmp/cdconefile-${System.nanoTime()}"
    val dir = s"$base/state"
    val store = new WatermarkStore(s"$base/wm")
    val full = ChangeFeed.fromEvents(Tables.events(spark, sf)).localCheckpoint(true)
    def files(d: String): Int = CdcPipeline.bucketFileStats(d).map(_._2).sum
    CdcPipeline.applyBatch(spark, store, dir, "src", full.filter(col("pos") <= 500))
    assert(CdcPipeline.bucketCount(dir) == 1)
    assert(files(dir) == 1, "the first COW batch writes one file")
    CdcPipeline.appendDeltas(spark, store, dir, "src", full.filter(col("pos") > 500))
    assert(files(dir) == 2, "a MOR append adds one file")
    assert(CdcPipeline.readState(spark, dir).select("pk", "pos", "op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet == expectedState())
    val snapDir = s"$base/snap"
    val snap = Tables.customer(spark, sf).select(
      lit(0L).as("pos"),
      lit(new java.sql.Timestamp(0L)).as("ts"),
      col("c_custkey").as("pk"),
      lit("insert").as("op"),
      col("c_acctbal").cast("double").as("value"))
    assert(CdcPipeline.resumableSnapshot(spark, new WatermarkStore(s"$base/snapwm"), snapDir,
      "src", snap, chunkBy = "pk", numChunks = 3, pos = "src:1-1").length == 3)
    assert(files(snapDir) == 3, "each snapshot chunk adds one file")
    assert(CdcPipeline.readState(spark, snapDir).count() == snap.count())
  }

  test("a no-op split check is FS-metadata only: zero Spark jobs") {
    val base = s"target/tmp/cdcsplitnoop-${System.nanoTime()}"
    val dir = s"$base/state"
    CdcPipeline.applyBatch(spark, new WatermarkStore(s"$base/wm"), dir, "src",
      ChangeFeed.fromEvents(Tables.events(spark, sf)))
    val largest = CdcPipeline.bucketFileStats(dir).map(_._3).max
    val (jobs, _) = sparkWork {
      assert(CdcPipeline.maybeSplit(spark, dir).isEmpty, "far below the default target")
      assert(CdcPipeline.maybeSplit(spark, dir, maxBucketBytes = largest).isEmpty,
        "a bucket AT the target does not split")
    }
    assert(jobs == 0, s"a no-op split check must not launch Spark jobs (launched $jobs)")
    assert(CdcPipeline.bucketCount(dir) == 1)
  }

  test("the watermark commit is driver-side: upsert starts no Spark job, applies write only state") {
    import org.apache.spark.sql.functions.col
    val base = s"target/tmp/cdcwmcommit-${System.nanoTime()}"
    val dir = s"$base/state"
    val wm = new File(s"$base/wm").getAbsolutePath
    val store = new WatermarkStore(wm)
    val (upsertJobs, _) = sparkWork {
      store.upsert(spark, Seq(TableWatermark("other", SnapshotJob.schemaName, "events", "other:1-3")))
    }
    assert(upsertJobs == 0, s"an upsert must not launch Spark jobs (launched $upsertJobs)")
    val full = ChangeFeed.fromEvents(Tables.events(spark, sf)).localCheckpoint(true)
    val (_, writes) = sparkWork {
      CdcPipeline.applyBatch(spark, store, dir, "src", full.filter(col("pos") <= 500))
      CdcPipeline.appendDeltas(spark, store, dir, "src", full.filter(col("pos") > 500))
    }
    assert(writes.size == 2, s"one COW write and one MOR append expected, got ${writes.size}")
    assert(writes.forall(_.contains(new File(dir).getAbsolutePath)), "every write targets the state")
    assert(!writes.exists(_.contains(wm)), "no parquet write under the watermark path")
    assert(new WatermarkStore(wm).watermark(spark, "src", SnapshotJob.schemaName, "events") ==
      CdcPipeline.batchGtidSet(full, "src"))
  }

  test("a 2-chunk resumableSnapshot into a fresh directory runs exactly its 2 chunk appends") {
    import org.apache.spark.sql.functions.{col, lit}
    val base = s"target/tmp/cdcsnapwrites-${System.nanoTime()}"
    val dir = s"$base/state"
    val store = new WatermarkStore(s"$base/wm")
    val snap = Tables.customer(spark, sf).select(
      lit(0L).as("pos"),
      lit(new java.sql.Timestamp(0L)).as("ts"),
      col("c_custkey").as("pk"),
      lit("insert").as("op"),
      col("c_acctbal").cast("double").as("value")).localCheckpoint(true)
    val (_, writes) = sparkWork {
      assert(CdcPipeline.resumableSnapshot(spark, store, dir, "src", snap,
        chunkBy = "pk", numChunks = 2, pos = "src:1-7") == Seq(0, 1))
    }
    assert(writes.size == 2, s"the two chunk appends and nothing else, got ${writes.size}")
    assert(writes.forall(_.contains(new File(dir).getAbsolutePath)))
    val reopened = new WatermarkStore(s"$base/wm")
    assert(reopened.watermark(spark, "src", SnapshotJob.schemaName, "events").serialize == "src:1-7")
    assert(MetaTables.readLog(dir).toSeq.flatMap(_.chunks).filter(_.table == "events")
      .flatMap(_.done).sorted == Seq(0, 1))
    assert(CdcPipeline.readState(spark, dir).count() == snap.count())
  }

  test("the pipeline splits on its own: a COW batch, then MOR deltas, past the bucket target") {
    import org.apache.spark.sql.functions._
    val base = s"target/tmp/cdcsplitauto-${System.nanoTime()}"
    val dir = s"$base/state"
    val store = new WatermarkStore(s"$base/wm")
    // 1 KiB of hex per row (eight sha2-512 digests): parquet cannot
    // shrink it, so a batch of 1.5 targets' worth of rows outgrows one
    // bucket whatever the encoding
    val rows = CdcPipeline.targetBucketBytes * 3 / 2 / 1024
    def feed(from: Long, op: String) = spark.range(rows).select(
      (col("id") + from).as("pos"),
      lit(new java.sql.Timestamp(0L)).as("ts"),
      col("id").as("pk"),
      lit(op).as("op"),
      col("id").cast("double").as("value"),
      concat((0 until 8).map(i => sha2(concat(col("id").cast("string"), lit(s"$from-$i")), 512)): _*)
        .as("props"))
    def largest = CdcPipeline.bucketFileStats(dir).map(_._3).max
    CdcPipeline.applyBatch(spark, store, dir, "src", feed(1, "insert"))
    assert(CdcPipeline.bucketCount(dir) == 2, "1.5 targets need two buckets")
    assert(largest <= CdcPipeline.targetBucketBytes)
    // the deltas double every bucket: 3 targets in all need four
    CdcPipeline.appendDeltas(spark, store, dir, "src", feed(rows + 1, "update"))
    assert(CdcPipeline.bucketCount(dir) == 4, "3 targets need four buckets")
    assert(largest <= CdcPipeline.targetBucketBytes)
    val live = CdcPipeline.readState(spark, dir)
    assert(live.count() == rows)
    assert(live.filter(col("op") =!= "update").count() == 0, "latest wins after the split")
  }

  test("a write past the bucket target splits in one rewrite to the needed power of two") {
    import org.apache.spark.sql.functions._
    val base = s"target/tmp/cdcsplitpow-${System.nanoTime()}"
    val dir = s"$base/state"
    val store = new WatermarkStore(s"$base/wm")
    val full = ChangeFeed.fromEvents(Tables.events(spark, sf)).localCheckpoint(true)
    val Array(q) = full.stat.approxQuantile("pos", Array(0.5), 0.0)
    val cut = q.toLong
    val first = full.filter(col("pos") <= cut)
    def state(): Set[(Long, Long, String)] =
      CdcPipeline.readState(spark, dir).select("pk", "pos", "op").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // the latest-wins model of the feed up to `p`
    def model(p: Long): Set[(Long, Long, String)] =
      ChangeFeed.latestState(full.filter(col("pos") <= p))
        .select("pk", "pos", "op").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // 1. under a target of a seventh of the one-bucket file the first
    // write leaves, the table needs 8 buckets and gets there in one
    // rewrite, not 1 → 2 → 4 → 8
    CdcPipeline.applyBatch(spark, store, dir, "src", first)
    assert(CdcPipeline.bucketCount(dir) == 1, "far below the default target")
    val bytes = CdcPipeline.bucketFileStats(dir).map(_._3).sum
    def stateWrites(plans: Seq[String]): Int = plans.count(_.contains(dir))
    val (_, writes) = sparkWork {
      assert(CdcPipeline.maybeSplit(spark, dir, maxBucketBytes = bytes / 7).contains(8))
    }
    assert(CdcPipeline.bucketCount(dir) == 8)
    assert(stateWrites(writes) == 1,
      s"ONE split rewrite (saw ${stateWrites(writes)} state writes)")
    assert(CdcPipeline.bucketFileStats(dir).forall(_._2 == 1))
    assert(state() == model(cut))

    // 2. an explicit check on a table carrying MOR deltas: the total
    // needs 32 buckets, so 8 → 32 in one rewrite, each old bucket b
    // fanning out only to b + 8i, and merge-on-read state unchanged
    CdcPipeline.appendDeltas(spark, store, dir, "src", full.filter(col("pos") > cut))
    assert(CdcPipeline.bucketCount(dir) == 8, "far below the default target")
    val before = state()
    assert(before == expectedState())
    val total = CdcPipeline.bucketFileStats(dir).map(_._3).sum
    val (_, splitWrites) = sparkWork {
      assert(CdcPipeline.maybeSplit(spark, dir, maxBucketBytes = total / 31).contains(32))
    }
    assert(stateWrites(splitWrites) == 1, s"one rewrite (saw ${stateWrites(splitWrites)})")
    assert(state() == before)
    val rows = spark.read.schema(stateSchema(dir)).parquet(dir)
    assert(rows.filter(col("bucket") =!= pmod(hash(col("pk")), lit(32))).count() == 0)
    assert(rows.filter(col("bucket") % 8 =!= pmod(hash(col("pk")), lit(8))).count() == 0)

    // 3. a static rewrite after the split (the additive schema
    // migration) keeps the table's bucket count: the manifest carries it
    CdcPipeline.applyBatch(spark, store, dir, "src",
      full.filter(col("pk").isin(0L, 1L)).withColumn("pos", col("pos") + 10000)
        .withColumn("region", lit("emea")))
    assert(CdcPipeline.bucketCount(dir) == 32)
    val migrated = spark.read.schema(stateSchema(dir)).parquet(dir)
    assert(migrated.filter(col("bucket") =!= pmod(hash(col("pk")), lit(32))).count() == 0)
  }

  test("a split between resumable-snapshot runs keeps the pinned chunk bounds") {
    import org.apache.spark.sql.functions.{col, max}
    val base = s"target/tmp/cdcsnapsplit-${System.nanoTime()}"
    val dir = s"$base/state"
    val store = new WatermarkStore(s"$base/wm")
    val full = ChangeFeed.fromEvents(Tables.events(spark, sf)).localCheckpoint(true)
    val maxPk = full.agg(max(col("pk"))).head().getLong(0)
    def snapshot(feed: org.apache.spark.sql.DataFrame, failAfter: Int = Int.MaxValue) =
      CdcPipeline.resumableSnapshot(spark, store, dir, "src", feed,
        chunkBy = "pk", numChunks = 4, pos = "src:1-1", failAfterChunks = failAfter)
    // a crashed snapshot, then a split before the resume: the split's
    // static rewrite must carry the pinned chunk bounds across
    intercept[IllegalStateException](snapshot(full, failAfter = 2))
    val bytes = CdcPipeline.bucketFileStats(dir).map(_._3).sum
    assert(CdcPipeline.maybeSplit(spark, dir, maxBucketBytes = bytes / 3).contains(4))
    // the pinned bounds survived the split: a drifted resume still fails
    val e = intercept[IllegalStateException](snapshot(full.filter(col("pk") < maxPk)))
    assert(e.getMessage.contains("drifted"))
    snapshot(full)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("pk", "pos", "op").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(rows(CdcPipeline.readState(spark, dir)) == rows(ChangeFeed.latestState(full)))
  }

  test("a split or a schema migration stopped before its manifest rename leaves the table as it was") {
    import org.apache.spark.sql.functions.{col, lit}
    val base = s"target/tmp/cdccrashwin-${System.nanoTime()}"
    val dir = s"$base/state"
    val store = new WatermarkStore(s"$base/wm")
    val full = ChangeFeed.fromEvents(Tables.events(spark, sf)).localCheckpoint(true)
    def state(): Set[(Long, Long, String)] =
      CdcPipeline.readState(spark, dir).select("pk", "pos", "op").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    CdcPipeline.applyBatch(spark, store, dir, "src", full.filter(col("pos") <= 500))
    val before = state()
    val evolved = full.filter(col("pk").isin(0L, 1L))
      .withColumn("pos", col("pos") + 10000).withColumn("region", lit("emea"))
    // both steps between the first new data file and the rename
    Seq("written", "staged").foreach { step =>
      crashAt(dir, step)(CdcPipeline.splitBuckets(spark, dir, factor = 4))
      assert(state() == before, s"a split stopped at $step changed the state")
      assert(CdcPipeline.bucketCount(dir) == 1,
        s"a split stopped at $step changed the bucket count")
      crashAt(dir, step)(CdcPipeline.applyBatch(spark, store, dir, "src", evolved))
      assert(state() == before, s"a migration stopped at $step changed the state")
      assert(CdcPipeline.bucketCount(dir) == 1)
      assert(!CdcPipeline.readState(spark, dir).columns.contains("region"),
        s"a migration stopped at $step changed the schema")
    }
    // the stray files are on disk; the next apply sweeps them and
    // adopts none: every data file left is one the manifest names, and
    // a plain directory read sees exactly the state
    CdcPipeline.applyBatch(spark, store, dir, "src", full.filter(col("pos") > 500))
    assert(state() == expectedState())
    val named = MetaTables.readLog(dir).get.files.map(_.path).toSet
    val onDisk = graft.Fs.walkSeq(java.nio.file.Paths.get(dir))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => java.nio.file.Paths.get(dir).relativize(p).toString).toSet
    assert(onDisk == named, s"stray files adopted or left: ${onDisk -- named}")
    assert(stateRows(dir) == expectedState())
  }

  test("a steady-state COW apply on an existing table runs exactly 3 Spark jobs") {
    import org.apache.spark.sql.functions.col
    val base = s"target/tmp/cdccowjobs-${System.nanoTime()}"
    val dir = s"$base/state"
    val store = new WatermarkStore(s"$base/wm")
    val full = ChangeFeed.fromEvents(Tables.events(spark, sf)).localCheckpoint(true)
    CdcPipeline.applyBatch(spark, store, dir, "src", full.filter(col("pos") <= 500))
    val (jobs, writes) = sparkWork {
      CdcPipeline.applyBatch(spark, store, dir, "src", full.filter(col("pos") > 500))
    }
    // the gate pass (the batch's GTID set and touched buckets in one
    // single-stage job), then the merge write: its one shuffle's map
    // stage and the write itself. Nothing materializes the merge first
    // and nothing collects the buckets it left non-empty: the manifest
    // names the written files.
    assert(writes.size == 1)
    assert(exchanges(writes.head) == 1, s"the merge write shuffles once:\n${writes.head}")
    assert(jobs == 3, s"expected 3 Spark jobs, saw $jobs")
    assert(stateRows(dir) == expectedState())
  }

  test("a compaction that folds one bucket runs exactly 2 Spark jobs through one shuffle") {
    import org.apache.spark.sql.functions.col
    val base = s"target/tmp/cdccompactjobs-${System.nanoTime()}"
    val dir = s"$base/state"
    val store = new WatermarkStore(s"$base/wm")
    val full = ChangeFeed.fromEvents(Tables.events(spark, sf)).localCheckpoint(true)
    presetBuckets(dir, full)
    CdcPipeline.applyBatch(spark, store, dir, "src", full)
    CdcPipeline.appendDeltas(spark, store, dir, "src",
      full.filter(col("pk") === 0L).withColumn("pos", col("pos") + 10000))
    val (jobs, writes) = sparkWork {
      assert(CdcPipeline.compact(spark, dir, maxFilesPerBucket = 1).size == 1)
    }
    // the merge's shuffle map stage and the write
    assert(writes.size == 1)
    assert(exchanges(writes.head) == 1, s"the compaction shuffles once:\n${writes.head}")
    assert(jobs == 2, s"expected 2 Spark jobs, saw $jobs")
    assert(CdcPipeline.bucketFileStats(dir).forall(_._2 == 1))
  }

  test("the gate short-circuits: an empty or already-covered batch runs one Spark job and writes nothing") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val base = s"target/tmp/cdcgateshort-${System.nanoTime()}"
    val full = ChangeFeed.fromEvents(Tables.events(spark, sf)).localCheckpoint(true)
    val seen = full.filter(col("pos") <= 500)
    def parquetFiles(dir: String): Set[String] = graft.Fs.walkSeq(Paths.get(dir))
      .filter(_.getFileName.toString.endsWith(".parquet")).map(_.toString).toSet
    for (mode <- Seq("cow", "mor")) {
      val dir = s"$base/$mode/state"
      val store = new WatermarkStore(s"$base/$mode/wm")
      def apply(b: DataFrame): Unit =
        if (mode == "cow") CdcPipeline.applyBatch(spark, store, dir, "src", b)
        else CdcPipeline.appendDeltas(spark, store, dir, "src", b)
      apply(seen)
      val log = Paths.get(dir, "_graft_log.json")
      val (logBytes, logMtime) = (Files.readAllBytes(log), Files.getLastModifiedTime(log))
      val files = parquetFiles(dir)
      for ((what, batch) <- Seq("empty" -> full.filter(col("pos") < 0), "redelivered" -> seen)) {
        val (jobs, writes) = sparkWork(apply(batch))
        assert(jobs == 1, s"$mode, $what batch: expected 1 Spark job, saw $jobs")
        assert(writes.isEmpty, s"$mode, $what batch wrote parquet")
        assert(parquetFiles(dir) == files, s"$mode, $what batch changed the data files")
        assert(Files.readAllBytes(log).sameElements(logBytes) &&
          Files.getLastModifiedTime(log) == logMtime, s"$mode, $what batch changed the manifest")
      }
    }
  }
}
