package graft.cdc

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.GtidRangesAgg
import graft.model.{GtidSet, GtidRange}

/** The wired incremental ("增量") pipeline — the running-stream form
  * of the reference's binlog event loop
  * (`internal/cannal/incremental.go:99-232` + the watermark protocol,
  * `docs/全量抓取逻辑.md:44-52`):
  *
  *   - `readStream` over the events parquet dir stands in for the
  *     binlog tail (offsets live in the checkpoint, replacing the
  *     mutex-guarded GTID state — restart resumes, no reprocessing);
  *   - each micro-batch computes its GTID set in-plan
  *     ([[GtidRangesAgg]]) and is applied ONLY when the watermark
  *     store does not already cover it ([[GtidSet.subsetOf]]) — the
  *     docs' "apply only above the watermark" rule, which makes a
  *     replayed batch (fresh checkpoint, duplicated feed) a no-op;
  *   - apply = latest-wins MERGE of the batch into a parquet state
  *     table (`foreachBatch`; at warehouse scale the same callback
  *     would be a Delta/Iceberg MERGE — the parquet
  *     read-union-rewrite here has identical semantics);
  *   - after a successful apply, the per-table watermark row is
  *     merge-upserted ([[WatermarkStore.upsert]]) — the reference's
  *     `SaveOrUpdateTableMeta` (`tablemeta.go:56-82`). Apply precedes
  *     the upsert, so the pipeline is at-least-once with idempotent
  *     re-apply — the same contract as the reference (channel send
  *     precedes the deferred meta save,
  *     `fullamount_service.go:143-184`).
  */
object CdcPipeline {

  /** The current fixture layout's schema (`ts` as `timestamp[us]` →
    * TIMESTAMP_NTZ — FIXTURES.md), used when the feed directory can't
    * be probed yet: a streaming source must be constructible BEFORE
    * its producer writes the first file, which is the reason streaming
    * reads take an up-front schema at all.
    */
  private val eventsSchemaNtz: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** The streaming twin of [[graft.Tables.events]] +
    * [[ChangeFeed.fromEvents]]. Streaming reads need the schema up
    * front, and the fixture's physical `ts` layout has drifted across
    * driver regenerations (nanos-long vs `timestamp[us]` — see
    * FIXTURES.md), so probe it with a one-time batch footer read
    * (control-plane cost: file listing + one footer) and normalize
    * through the same dtype branch the batch loader uses
    * ([[graft.Tables.normalizeEventsTs]]). An EMPTY feed directory
    * can't be probed (no footer to read) — fall back to the current
    * fixture-contract schema so the stream still starts ahead of its
    * producer, the invariant the old hardcoded schema provided. (The
    * directory itself must exist either way: Spark's streaming
    * DataSource checks the path at construction regardless of schema.)
    */
  def feedStream(spark: SparkSession, eventsDir: String): DataFrame = {
    val physicalSchema =
      try spark.read.parquet(eventsDir).schema
      catch {
        // ONLY the empty-dir condition falls back — any other analysis
        // failure (corrupt footer, mixed layouts, permissions surfaced
        // as AnalysisException) must fail HERE at the loader, not
        // mid-stream against a silently-assumed schema. If a producer
        // later drops legacy nanos-long files into an initially-empty
        // dir, the stream's declared NTZ schema will mismatch at read
        // time; that loud failure is the designed outcome
        // (normalizeEventsTs rejects unknown layouts the same way).
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
          eventsSchemaNtz
      }
    ChangeFeed.fromEvents(
      graft.Tables.normalizeEventsTs(
        spark.readStream
          .schema(physicalSchema)
          .parquet(eventsDir)))
  }

  /** The batch GTID set, computed in-plan (one partial+final agg, one
    * row to the driver — control-plane only).
    */
  def batchGtidSet(batch: DataFrame, uuid: String): GtidSet = {
    import batch.sparkSession.implicits._
    // No separate isEmpty probe: the aggregator's finish(zero) on an
    // empty batch is the empty range list, so one agg job answers both
    // questions — per-batch control-plane cost matters at a production
    // trigger rate.
    val ranges = batch
      .select(lit(uuid).as("uuid"), col("pos"))
      .as[(String, Long)]
      .select(GtidRangesAgg.toColumn)
      .head()
    ranges.foldLeft(GtidSet.empty) { case (acc, (u, s, e)) =>
      acc.addRange(u, GtidRange(s, e))
    }
  }

  /** Initial bucket count of a new state table: one. Every write puts
    * one file in each bucket it touches, and a file has a fixed cost
    * (see [[writeFiles]]), so a small table pays per bucket, not per
    * row. The LIVE count is table state, not code (the [[StateLog]]
    * manifest): every state write ends in [[maybeSplit]] against
    * [[targetBucketBytes]], so the count tracks state volume instead of
    * being provisioned for it up front.
    */
  val stateBuckets: Int = 1

  /** Per-bucket byte target: 2 MiB, measured. A COW batch pays, for
    * each bucket it touches, a fixed cost (a file and a task, 15–35 ms)
    * plus a rewrite of the bucket's bytes (~6 MiB/s per task), so small
    * buckets suit small batches and few buckets suit large ones. A
    * split leaves the mean bucket between half the target and the
    * target, here 1–2 MiB: on a 4-core host's local FS, over tables of
    * 1–128 MiB and batches of 10 and 1 000 keys, that layout stayed
    * within 1.4× of the best bucket count, where one bucket per
    * 128 MiB cost up to 6× and a fixed 64 buckets up to 2.6×.
    */
  private[cdc] val targetBucketBytes: Long = 2L << 20

  // NOT underscore-prefixed: Spark's file index treats `_`-prefixed
  // paths as hidden and would skip the partition directories
  private[cdc] val bucketCol = "bucket"

  /** The state table's current bucket count (from its manifest). */
  def bucketCount(stateDir: String): Int =
    MetaTables.readLog(stateDir).fold(stateBuckets)(_.buckets)

  /** Deterministic pk → bucket assignment (Murmur3, same function a
    * shuffle-hash-partitioning of the state would use).
    */
  private def bucketOf(n: Int): Column = pmod(hash(col("pk")), lit(n))

  /** Run `body` only if the batch's GTID set is non-empty and not
    * already covered by the watermark; advance the watermark after.
    * The shared dedupe/resume protocol of every apply flavor.
    */
  private def gatedApply(
      spark: SparkSession,
      store: WatermarkStore,
      source: String,
      batch: DataFrame,
      table: String = "events"
  )(body: => Unit): Unit = {
    val set = batchGtidSet(batch, source)
    if (set.isEmpty) return
    if (store.covered(spark, source, SnapshotJob.schemaName, table, set)) return
    body
    store.upsert(spark, Seq(
      TableWatermark(source, SnapshotJob.schemaName, table, set.serialize)))
  }

  /** Apply one micro-batch: GTID-gate, then a bucketed copy-on-write
    * MERGE into the state table, then the watermark upsert. Public so
    * the batch spec can drive it directly.
    *
    * The state parquet is hash-partitioned on `pmod(hash(pk), n)`, `n`
    * the table's bucket count (directory layout `bucket=N/`). A batch
    * only ever reads-and-rewrites the buckets its keys hash into: it
    * reads the touched buckets' files, writes their merged rows as new
    * files, and commits a manifest ([[StateLog]]) in which those files
    * replace the touched buckets' old ones (a bucket the merge leaves
    * empty simply gets none). Apply cost is O(batch ∪ touched-bucket
    * state), not O(state): the Delta/Iceberg copy-on-write MERGE
    * pattern without the dependency. Untouched buckets' files are
    * never opened, and the schema comes from the manifest (no footer
    * inference).
    *
    * A batch arriving with an evolved schema — the downstream meaning
    * of a gated additive DDL event, which the reference drops in its
    * no-op `OnDDL` (`internal/cannal/incremental_event.go:31-33`) —
    * triggers a one-off full-table migration
    * ([[SchemaEvolution.conform]]: old rows null-fill new columns),
    * amortized O(state) once per DDL; every schema-stable batch takes
    * the O(batch) COW path. Either way the manifest rename precedes the
    * watermark upsert, so a crash between them re-applies the batch on
    * redelivery, which latest-wins makes harmless.
    */
  def applyBatch(
      spark: SparkSession,
      store: WatermarkStore,
      stateDir: String,
      source: String,
      batch: DataFrame,
      table: String = "events"
  ): Unit = gatedApply(spark, store, source, batch, table) {
    val log = MetaTables.readLog(stateDir)
    val n = log.fold(stateBuckets)(_.buckets)
    val bucketed = batch.withColumn(bucketCol, bucketOf(n))
    log match {
      case None =>
        // first batch: no state yet
        val out = ChangeFeed.latestState(bucketed)
        write(stateDir, None, out, StateLog.empty(out.schema, bucketCol, n), _ => true)

      case Some(old) =>
        val target = mergedSchema(old.struct, bucketed.schema)
        if (target != old.struct) {
          // evolved batch → one-off migration: conform ALL buckets so
          // the table has a single schema again
          val out = ChangeFeed.latestState(
            SchemaEvolution.conform(MetaTables.read(spark, stateDir, old, old.files), target)
              .unionByName(SchemaEvolution.conform(bucketed, target)))
          write(stateDir, log, out, old.withSchema(out.schema), _ => true)
        } else {
          // steady state: O(batch) COW. Touched buckets = one small
          // distinct over the batch (≤ bucket-count values — control
          // plane)
          val touched = bucketed.select(bucketCol).distinct().collect().map(_.getInt(0)).toSet
          val st = MetaTables.read(spark, stateDir, old, old.files.filter(f => touched(f.bucket)))
          val out = ChangeFeed.latestState(
            st.unionByName(SchemaEvolution.conform(bucketed, target)))
          write(stateDir, log, out, old, touched)
        }
    }
    maybeSplit(spark, stateDir)
  }

  /** Merge-on-read alternative to [[applyBatch]]: append the batch's
    * raw feed rows as DELTA FILES inside the bucket directories and
    * defer the latest-wins merge to read time — strict O(batch) write
    * cost with zero state reads, where the COW path pays
    * O(touched-bucket state) per batch. The Hudi/Iceberg MOR pattern
    * without the dependency: base files are earlier latest-wins
    * compactions, delta files are raw feed rows (including `delete`
    * tombstones), and both speak the same schema, so
    * [[readState]]'s single `latestState` pass over ALL files is the
    * whole merge — no base/delta bookkeeping. [[compact]] folds a
    * bucket back to one file when its file count (the read-amp)
    * exceeds a threshold; [[applyBatch]] on a delta-carrying bucket
    * also folds it, so the two apply flavors compose freely.
    *
    * An evolved batch schema falls back to the COW path's one-off
    * migration (delta files narrower than the manifest's schema are
    * fine — missing columns read as null — but a WIDER batch must
    * migrate the table).
    */
  def appendDeltas(
      spark: SparkSession,
      store: WatermarkStore,
      stateDir: String,
      source: String,
      batch: DataFrame,
      table: String = "events"
  ): Unit = MetaTables.readLog(stateDir) match {
    case None => applyBatch(spark, store, stateDir, source, batch, table)
    case Some(log) =>
      val bucketed = batch.withColumn(bucketCol, bucketOf(log.buckets))
      if (mergedSchema(log.struct, bucketed.schema) != log.struct)
        applyBatch(spark, store, stateDir, source, batch, table)
      else gatedApply(spark, store, source, batch, table) {
        write(stateDir, Some(log), SchemaEvolution.conform(bucketed, log.struct), log, _ => false)
        maybeSplit(spark, stateDir)
      }
  }

  /** Demultiplex one micro-batch carrying rows for N logical tables
    * (a `table` column) into per-table gated applies — the
    * reference's per-table protocol: it snapshots and tails many
    * tables through one pipeline
    * (`internal/cannal/fullamount_service.go:112-134`) and persists
    * one watermark row PER TABLE (`tablemeta.go:56-82`,
    * `go_cdc_table_meta`). Each table here gates on its own
    * [[TableWatermark]] row and lands under `stateRoot/<table>` in
    * the bucketed layout, so one table's redelivery can never
    * suppress another table's first delivery — the property the
    * `cdc_multi_table` gate makes hash-checkable. The distinct-table
    * read is control-plane (≤ table count, the reference's configured
    * table list).
    */
  def applyBatchMulti(
      spark: SparkSession,
      store: WatermarkStore,
      stateRoot: String,
      source: String,
      batch: DataFrame
  ): Unit = {
    val tables = batch.select("table").distinct()
      .collect().map(_.getString(0)).sorted
    tables.foreach { t =>
      applyBatch(spark, store, s"$stateRoot/$t", source,
        batch.filter(col("table") === t).drop("table"), table = t)
    }
  }

  /** Multi-table streaming form: ONE checkpointed stream, one
    * consumer, N gated per-table sinks — the topology of the
    * reference's single event loop feeding per-table metadata rows.
    * `demux` assigns each feed row its logical table.
    */
  def runMulti(
      spark: SparkSession,
      eventsDir: String,
      stateRoot: String,
      watermarkPath: String,
      checkpointDir: String,
      demux: DataFrame => DataFrame,
      source: String = "harness-src"
  ): StreamingQuery = {
    val store = new WatermarkStore(watermarkPath)
    demux(feedStream(spark, eventsDir)).writeStream
      .queryName("cdc-apply-multi")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatchMulti(spark, store, stateRoot, source, batch)
      }
      .start()
  }

  /** Non-additive DDL, parsed and migrated. The reference's gate
    * forwards CREATE/ALTER/DROP/RENAME/TRUNCATE statements and then
    * drops them in the no-op `OnDDL`
    * (`internal/cannal/incremental.go:212-217`,
    * `incremental_event.go:31-33`); a materializing sink must choose
    * semantics. Policy here (each a one-off O(state) migration, like
    * the additive path):
    *
    *   - **drop column** = retain-and-null: the column stays in the
    *     schema (downstream readers keep working) but its values null
    *     out — the reversible form of a destructive DDL; physical
    *     removal is an explicit later cleanup, never implicit;
    *   - **rename column** = add-new + tombstone-old: the new name
    *     carries the values, the old column retains-and-nulls;
    *   - **truncate** = state reset: the manifest keeps its schema and
    *     bucket count and names no files, and the WATERMARK is
    *     deliberately untouched — positions already covered stay
    *     covered, so a redelivered pre-truncate batch gates to a no-op
    *     instead of resurrecting truncated rows.
    *
    * All three are idempotent under redelivery of the same statement
    * (re-null, rename-to-existing no-ops, re-truncate of empty).
    */
  sealed trait DdlOp
  object DdlOp {
    final case class DropColumn(name: String) extends DdlOp
    final case class RenameColumn(from: String, to: String) extends DdlOp
    case object Truncate extends DdlOp

    private val DropRe =
      """(?is)\s*ALTER\s+TABLE\s+\S+\s+DROP\s+(?:COLUMN\s+)?`?(\w+)`?\s*""".r
    private val RenameRe =
      """(?is)\s*ALTER\s+TABLE\s+\S+\s+RENAME\s+(?:COLUMN\s+)?`?(\w+)`?\s+TO\s+`?(\w+)`?\s*""".r
    private val TruncRe = """(?is)\s*TRUNCATE\s+(?:TABLE\s+)?\S+\s*""".r

    /** Statement → migration op, for the statements the reference's
      * prefix gate forwards; `None` for additive/unknown DDL (ADD
      * COLUMN needs no eager migration — the next batch's wider
      * schema triggers it in [[applyBatch]]).
      */
    def parse(stmt: String): Option[DdlOp] = stmt match {
      case DropRe(c) => Some(DropColumn(c))
      case RenameRe(a, b) => Some(RenameColumn(a, b))
      case TruncRe() => Some(Truncate)
      case _ => None
    }
  }

  def applyDdl(spark: SparkSession, stateDir: String, op: DdlOp): Unit =
    MetaTables.readLog(stateDir) match {
      case None => () // DDL ahead of any state: nothing to migrate
      case Some(old) =>
        def rewrite(df: DataFrame): Unit =
          write(stateDir, Some(old), df, old.withSchema(df.schema), _ => true)
        val schema = old.struct
        op match {
          case DdlOp.Truncate =>
            MetaTables.commit(stateDir, Some(old), old.copy(files = Seq.empty))
          case DdlOp.DropColumn(c) =>
            schema.fields.find(_.name == c).foreach { f =>
              rewrite(MetaTables.read(spark, stateDir, old, old.files)
                .withColumn(c, lit(null).cast(f.dataType)))
            }
          case DdlOp.RenameColumn(from, to) =>
            if (schema.fieldNames.contains(from) && !schema.fieldNames.contains(to))
              rewrite(MetaTables.read(spark, stateDir, old, old.files)
                .withColumn(to, col(from))
                .withColumn(from, lit(null).cast(schema(from).dataType)))
        }
    }

  /** The manifest of an existing state table. */
  private def logOf(stateDir: String): StateLog =
    MetaTables.readLog(stateDir).getOrElse(
      throw new IllegalStateException(s"no state table at $stateDir"))

  /** Current state under merge-on-read: one latest-wins pass over
    * base + delta files. On a fully compacted table this is a no-op
    * window over already-unique keys.
    */
  def readState(spark: SparkSession, stateDir: String): DataFrame = {
    val log = logOf(stateDir)
    ChangeFeed.latestState(MetaTables.read(spark, stateDir, log, log.files))
  }

  /** Time-travel read: the state AS OF transaction `pos` — the
    * latest-wins view over only the rows at or below it. The
    * Delta/Iceberg `VERSION AS OF` capability, derived from the MOR
    * layout for free: delta files keep every raw feed row (including
    * tombstones), so filtering `pos <= asOf` before the merge replays
    * exactly the prefix of history — one scan, same cost shape as
    * [[readState]], the pos predicate pushed into the parquet scan.
    *
    * Retention contract: compaction (and COW applies) fold history —
    * a base file only retains each key's LATEST pre-compaction row.
    * An `asOf` OLDER than a fold point returns the folded view of
    * that prefix (keys whose history was compacted away resolve to
    * their folded row if it has `pos <= asOf`, else disappear),
    * exactly like a lakehouse table after `VACUUM`: time travel
    * reaches back to the retention horizon, not before it. Callers
    * who need deep history keep deltas uncompacted, or maintain the
    * SCD-2 version table (the `cdc_history_state` gate), which
    * retains versions by design.
    */
  def readStateAsOf(spark: SparkSession, stateDir: String, asOf: Long): DataFrame = {
    val log = logOf(stateDir)
    ChangeFeed.latestState(
      MetaTables.read(spark, stateDir, log, log.files).filter(col("pos") <= asOf))
  }

  /** Fold every bucket whose file count exceeds `maxFilesPerBucket`
    * back to a single latest-wins base file. Only the over-threshold
    * buckets are read and rewritten — untouched buckets' files are
    * never opened. Tombstones drop out here, exactly as they do on the
    * COW path; a bucket left empty (every key deleted) keeps no file.
    * Returns the compacted bucket ids.
    */
  def compact(
      spark: SparkSession,
      stateDir: String,
      maxFilesPerBucket: Int = 4
  ): Seq[Int] = {
    // Target selection is the manifest ALONE — file counts are what
    // compaction is triggered by, and the manifest lists them, never a
    // scan of state data. A no-op compaction check therefore runs ZERO
    // Spark jobs (spec-asserted); at 100 TB the control plane stays
    // O(buckets), not O(state).
    val targets = bucketFileStats(stateDir)
      .filter(_._2 > maxFilesPerBucket).map(_._1)
    if (targets.isEmpty) Seq.empty
    else {
      val old = logOf(stateDir)
      val hot = targets.toSet
      val merged = ChangeFeed.latestState(
        MetaTables.read(spark, stateDir, old, old.files.filter(f => hot(f.bucket))))
      write(stateDir, Some(old), merged, old, hot)
      maybeSplit(spark, stateDir)
      targets
    }
  }

  /** Write `df` in the bucketed layout, one file per bucket it touches
    * (hash repartition on the bucket column to `next.buckets` tasks),
    * and commit it ([[MetaTables.write]]).
    *
    * A file is the unit cost of a write: on a local FS each one costs
    * ~15–20 ms of task time whatever its size, because Hadoop's local
    * FS without native libs forks `chmod` for every directory and file
    * it creates (per op on a 4-core host: mkdirs 4.9 ms, create 9.8 ms,
    * setPermission 8.0 ms; 100 rows into 64 bucket dirs 1.5 s vs one
    * dir 0.2 s). That is why the bucket count follows bytes
    * ([[maybeSplit]]).
    */
  private def write(stateDir: String, prev: Option[StateLog], df: DataFrame,
      next: StateLog, replaced: Int => Boolean): Unit =
    MetaTables.write(stateDir, prev, df.repartition(next.buckets, col(bucketCol)), next, replaced)

  /** CRASH-RESUMABLE snapshot bootstrap by chunk — the reference's
    * snapshot-then-stream protocol (`docs/全量抓取逻辑.md:12-52`): the
    * snapshot's rows land in the bucketed layout and the watermark is
    * set to the PINNED snapshot position (`pos`), not to a data-derived
    * set — the snapshot is consistent as-of `pos` even for keys it never
    * saw, so incremental batches at or below `pos` must gate to a no-op.
    * After this, [[applyBatch]] keeps the table fresh. At 100 TB a
    * snapshot runs for days, and the reference's one-shot design
    * (`fullamount_service.go:72-110` — all tables in one pass, meta
    * saved only at the end) restarts from zero on any failure. Here
    * the table splits into `numChunks` contiguous PK ranges (the
    * chunked-scan shape of [[SnapshotJob.chunked]], re-derived
    * deterministically from the pinned snapshot read's min/max, so a
    * restarted driver computes the SAME chunks), and completion is
    * tracked per chunk in the watermark store — as a GTID set over a
    * synthetic `chunks` uuid, so finished chunk ids compress to
    * intervals (`chunks:0-41`) and resume is one `contains` per chunk,
    * the exact machinery the incremental gate already uses.
    *
    * Each chunk appends its bucketed rows, then records its id; the
    * crash window between those two writes re-appends that chunk on
    * resume, and the duplicate rows collapse in the latest-wins read —
    * the same at-least-once contract as [[applyBatch]] redelivery
    * (chunks are PK-disjoint, so cross-chunk appends never conflict).
    * The TABLE watermark `pos` is pinned only after every chunk is
    * covered: a half-done snapshot can never admit incremental events.
    *
    * `failAfterChunks` is the crash-injection seam (spec + gate): the
    * run completes (writes AND records) that many chunks, then writes
    * the NEXT chunk's data and throws before its completion upsert —
    * leaving exactly one written-but-unrecorded chunk, the worst-case
    * at-least-once window.
    *
    * Returns the chunk ids this run completed.
    */
  def resumableSnapshot(
      spark: SparkSession,
      store: WatermarkStore,
      stateDir: String,
      source: String,
      snapshotFeed: DataFrame,
      chunkBy: String,
      numChunks: Int,
      pos: String,
      failAfterChunks: Int = Int.MaxValue,
      table: String = "events"
  ): Seq[Int] = {
    require(numChunks > 0, "numChunks must be positive")
    val chunksTable = s"$table#chunks"
    val schemaName = SnapshotJob.schemaName
    val prev = MetaTables.readLog(stateDir)
    // a fresh table's manifest: written before the first chunk (with
    // the pinned bounds), or alone for an empty snapshot — a completed
    // empty snapshot is a READABLE empty state table, not a "no state
    // table" error
    val log = prev.getOrElse(StateLog.empty(
      snapshotFeed.withColumn(bucketCol, bucketOf(stateBuckets)).schema, bucketCol, stateBuckets))
    val pinned = log.chunks.find(_.table == table)
    val mm = snapshotFeed.agg(min(col(chunkBy)), max(col(chunkBy))).head()
    if (mm.isNullAt(0)) { // empty table: a complete (empty) snapshot
      // …unless a prior non-empty run already pinned chunk bounds: a
      // feed that drifted to EMPTY mid-resume is the same
      // unpinned-feed contract violation as drifted min/max, and the
      // empty-complete path would otherwise mark every chunk covered
      // and pin the table watermark — silently losing the rows the
      // unfinished chunks never wrote
      pinned.foreach { c =>
        throw new IllegalStateException(
          s"resumableSnapshot chunk bounds drifted on resume: pinned " +
            s"[${c.lo},${c.hi}]/${c.numChunks} chunks vs an EMPTY recomputed feed — " +
            "snapshotFeed must be a pinned (immutable) read")
      }
      if (prev.isEmpty) MetaTables.commit(stateDir, None, log)
      store.upsert(spark, Seq(
        TableWatermark(source, schemaName, chunksTable,
          GtidSet.empty.addRange("chunks", GtidRange(0, numChunks - 1)).serialize),
        TableWatermark(source, schemaName, table, pos)))
      return Seq.empty
    }
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    // Pin the chunk geometry on first run and ENFORCE it on resume:
    // "re-derived deterministically from the pinned read" is a caller
    // contract, not a given — a live (unpinned) feed would recompute
    // different bounds while chunk ids are already marked covered,
    // silently missing or duplicating rows. Persisting (lo, hi,
    // numChunks) makes the contract checkable: a drifted resume fails
    // loudly instead.
    pinned match {
      case Some(c) =>
        if (c.lo != lo || c.hi != hi || c.numChunks != numChunks)
          throw new IllegalStateException(
            s"resumableSnapshot chunk bounds drifted on resume: pinned " +
              s"[${c.lo},${c.hi}]/${c.numChunks} chunks vs recomputed [$lo,$hi]/$numChunks — " +
              "snapshotFeed must be a pinned (immutable) read")
      case None =>
        MetaTables.commit(stateDir, prev,
          log.copy(chunks = log.chunks :+ ChunkBounds(table, lo, hi, numChunks)))
    }
    val width = math.max(1L, (hi - lo) / numChunks + 1)
    val done = store.watermark(spark, source, schemaName, chunksTable)
    val pending = (0 until numChunks).filterNot(k => done.contains("chunks", k.toLong))
    val completed = Seq.newBuilder[Int]
    var written = 0
    pending.foreach { k =>
      val (cLo, cHi) = (lo + k * width, lo + (k + 1) * width - 1)
      val chunk = snapshotFeed.filter(col(chunkBy) >= cLo && col(chunkBy) <= cHi)
      val cur = logOf(stateDir)
      write(stateDir, Some(cur),
        chunk.withColumn(bucketCol, bucketOf(cur.buckets)), cur, _ => false)
      maybeSplit(spark, stateDir)
      written += 1
      if (written > failAfterChunks)
        throw new IllegalStateException(
          s"injected crash: chunk $k written but not recorded")
      store.upsert(spark, Seq(TableWatermark(source, schemaName, chunksTable,
        GtidSet.empty.add("chunks", k.toLong).serialize)))
      completed += k
    }
    val covered = store.watermark(spark, source, schemaName, chunksTable)
    if ((0 until numChunks).forall(k => covered.contains("chunks", k.toLong)))
      store.upsert(spark, Seq(TableWatermark(source, schemaName, table, pos)))
    completed.result()
  }

  /** Union schema for additive evolution: existing field order first
    * (batch types win on retype — the DDL is authoritative), then
    * batch-new fields appended.
    */
  private def mergedSchema(old: StructType, next0: StructType): StructType = {
    val next = MetaTables.normalized(next0)
    val nextByName = next.fields.map(f => f.name -> f).toMap
    StructType(
      old.fields.map(f => nextByName.getOrElse(f.name, f)) ++
        next.fields.filterNot(f => old.fieldNames.contains(f.name)))
  }

  /** Per-bucket (id, file count, bytes) of the live files — the
    * control-plane source of truth for compaction and split decisions.
    * Read from the manifest: no Spark job, no FS listing, no state data
    * touched. A bucket without files is absent.
    */
  private[cdc] def bucketFileStats(stateDir: String): Seq[(Int, Int, Long)] =
    MetaTables.readLog(stateDir).fold(Seq.empty[StateFile])(_.files)
      .groupBy(_.bucket).toSeq
      .map { case (b, fs) => (b, fs.size, fs.map(_.bytes).sum) }
      .sortBy(_._1)

  /** Per-bucket health of the state table: file count, bytes, and —
    * opt-in — rows. The small-file / skew observability surface of
    * the COW sink. File counts/bytes come from the manifest
    * ([[bucketFileStats]]); `withRows = true` additionally runs a
    * per-bucket row count over the state parquet — an O(state)
    * metadata job that exists for DIAGNOSTICS only. Nothing in the
    * pipeline's control plane ([[compact]], [[maybeSplit]]) consumes
    * it: at 100 TB a compaction check must not pay a table scan.
    */
  def stateMetrics(
      spark: SparkSession, stateDir: String,
      withRows: Boolean = false): DataFrame = {
    import spark.implicits._
    val fs = bucketFileStats(stateDir).toDF(bucketCol, "n_files", "bytes")
    if (!withRows) fs.orderBy(bucketCol)
    else {
      val rows = MetaTables.readLog(stateDir) match {
        case Some(log) =>
          MetaTables.read(spark, stateDir, log, log.files)
            .groupBy(col(bucketCol)).agg(count(lit(1)).as("n_rows"))
        case None => Seq.empty[(Int, Long)].toDF(bucketCol, "n_rows")
      }
      fs.join(rows, Seq(bucketCol), "left")
        .select(col(bucketCol), col("n_files"), col("bytes"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"))
        .orderBy(bucketCol)
    }
  }

  /** Multiply the bucket count by `factor`: every key in old bucket
    * `b` lands in some `b + i·n` (`i < factor`) under `n·factor`
    * (hash % n == b ⟹ hash % (n·factor) ≡ b mod n), so the rewrite is
    * per-bucket LOCAL — each old directory fans out to `factor` new
    * ones, no cross-bucket data movement. (The implementation routes
    * through one bucketed write for simplicity; the fan-out invariant
    * is what makes the real per-bucket rewrite possible, and the spec
    * asserts it.) O(state) once per split, in one rewrite however
    * large the factor — amortized like any LSM/extendible-hashing
    * reorganization; applyBatch stays O(batch) throughout.
    *
    * The new layout is written beside the live one and swapped in by
    * the manifest rename, like every state write: a crash before the
    * rename leaves the old layout and bucket count in force, and the
    * next write sweeps the new files.
    */
  def splitBuckets(spark: SparkSession, stateDir: String, factor: Int = 2): Int = {
    require(factor >= 2, s"split factor must be at least 2, got $factor")
    val log = logOf(stateDir)
    val next = log.buckets * factor
    val st = MetaTables.read(spark, stateDir, log, log.files)
      .drop(bucketCol)
      .withColumn(bucketCol, bucketOf(next))
    write(stateDir, Some(log), st, log.withSchema(st.schema).copy(buckets = next), _ => true)
    next
  }

  /** Split when the largest bucket outgrows `maxBucketBytes`, straight
    * to the power of two that brings it back under target (but no finer
    * than the table's total bytes need), in one rewrite. The pipeline
    * calls this after every state write with the [[targetBucketBytes]]
    * default; the no-split answer is the manifest alone (zero Spark
    * jobs). Returns the new bucket count, or None if no split was
    * needed.
    */
  def maybeSplit(
      spark: SparkSession,
      stateDir: String,
      maxBucketBytes: Long = targetBucketBytes
  ): Option[Int] = {
    val bytes = bucketFileStats(stateDir).map(_._3)
    if (bytes.isEmpty || bytes.max <= maxBucketBytes) None
    else {
      // the least power of two p with b / p ≤ target
      def pow2For(b: Long): Long = {
        val k = (b + maxBucketBytes - 1) / maxBucketBytes
        if (k <= 1) 1L else java.lang.Long.highestOneBit(k - 1) << 1
      }
      // capped at what the TOTAL needs: a bucket that one key fills
      // (MOR deltas awaiting compaction) cannot be split smaller, and
      // must not multiply the table on every write
      val n = bucketCount(stateDir)
      val next = math.min(n * pow2For(bytes.max), pow2For(bytes.sum))
      if (next / n < 2) None
      else Some(splitBuckets(spark, stateDir, (next / n).toInt))
    }
  }

  /** Apply flavor for the consumer loop — the reference's single
    * consumer (`internal/cannal/fullamount_service.go:203-223`) maps
    * to one foreachBatch whose body is either sink:
    *
    *   - [[Cow]]: read-merge-rewrite of touched buckets per batch
    *     ([[applyBatch]]) — reads stay cheap, writes pay
    *     O(touched-bucket state);
    *   - [[Mor]]: strict O(batch) delta appends ([[appendDeltas]])
    *     with [[compact]] every `compactEvery` batches — writes stay
    *     cheap, reads pay the merge until compaction folds it.
    */
  sealed trait ApplyMode
  case object Cow extends ApplyMode
  final case class Mor(compactEvery: Int = 4, maxFilesPerBucket: Int = 4) extends ApplyMode

  /** The foreachBatch body for one apply mode — shared by [[run]] and
    * any caller wiring its own stream (spec'd directly). Compaction
    * cadence keys off the checkpointed `batchId`, so a restarted
    * stream keeps the cadence instead of resetting it.
    */
  def applyFor(
      mode: ApplyMode,
      store: WatermarkStore,
      stateDir: String,
      source: String
  )(batch: DataFrame, batchId: Long): Unit = mode match {
    case Cow => applyBatch(batch.sparkSession, store, stateDir, source, batch)
    case Mor(every, maxFiles) =>
      appendDeltas(batch.sparkSession, store, stateDir, source, batch)
      if (every > 0 && (batchId + 1) % every == 0)
        compact(batch.sparkSession, stateDir, maxFiles)
  }

  /** Start the checkpointed stream. `Trigger.AvailableNow` drains
    * whatever the source has and stops — the harness form; a live
    * deployment would use a processing-time trigger.
    */
  def run(
      spark: SparkSession,
      eventsDir: String,
      stateDir: String,
      watermarkPath: String,
      checkpointDir: String,
      source: String = "harness-src",
      mode: ApplyMode = Cow
  ): StreamingQuery = {
    val store = new WatermarkStore(watermarkPath)
    feedStream(spark, eventsDir).writeStream
      .queryName("cdc-apply")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyFor(mode, store, stateDir, source)(batch, batchId)
      }
      .start()
  }
}
