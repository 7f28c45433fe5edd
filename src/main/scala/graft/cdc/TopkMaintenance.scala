package graft.cdc

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental TOP-K view maintenance off the CDC feed — the
  * leaderboard/serving complement of [[AggMaintenance]]: keep "top K
  * rows per group" of the materialized state fresh per micro-batch.
  *
  * Top-k is NOT delta-telescoping the way sums are: a delete can
  * evict a row that was never in the maintained view's buffer, so no
  * per-event retraction arithmetic reconstructs rank K+1 from the
  * view alone. The production-honest shape is GROUP-PRUNED
  * recomputation (how engine materialized-view refresh actually
  * handles rank views): a batch names the groups it touched —
  * control-plane sized, the group key is low-cardinality by
  * construction — and only THOSE groups re-rank from state;
  * untouched groups' view rows carry over byte-identical.
  *
  * The state table is COHORT-PARTITIONED parquet (`cohort=N/`
  * directory layout) maintained copy-on-write, the same discipline as
  * [[CdcPipeline.applyBatch]]'s pk-hash buckets but keyed on the view's
  * own group key, because that key is what both halves of the op prune
  * on: the state read for a batch reads only the touched cohorts' files
  * (untouched directories are never opened) and the state write commits
  * new files for ONLY the touched cohorts through the table's manifest
  * ([[MetaTables.write]]; a cohort the merge empties keeps no file).
  * The view is partitioned and committed the same way, so untouched
  * cohorts' view files are never rewritten. Per-batch cost is
  * O(batch + touched-cohorts' state), never O(state), and the merged
  * touched-cohort frame is materialized ONCE (localCheckpoint) and
  * reused by the state write AND the rank refresh — the refresh never
  * re-reads what the merge just computed.
  *
  * Determinism: ranking is `(value DESC, pk)` — no ties possible, the
  * oracle replays it exactly.
  */
object TopkMaintenance {

  /** Rows kept per group. */
  val K = 3

  /** Group key: the [[AggMaintenance]] cohort (`pk % 10`). */
  private def cohortOf(pk: org.apache.spark.sql.Column) = pmod(pk, lit(10))

  /** Apply one ordered feed slice `(pos, pk, op, value)`: fold it
    * latest-wins, merge into the touched cohorts' state partitions,
    * then re-rank ONLY those cohorts of the top-k view.
    *
    * Crash contract: the state and the view each commit by one
    * manifest rename, but the two renames are not one transaction — a
    * crash between them leaves the view stale for the batch's cohorts.
    * Recovery is the pipeline's standard at-least-once rule: RE-APPLY
    * the batch. Both halves are idempotent under re-delivery (the state
    * merge replaces the same cohorts' files; the re-rank recomputes
    * from post-merge state), so the pair converges — the posture of the
    * gated state sink. (The [[AggMaintenance]] rollups are NOT
    * idempotent under re-delivery; see their crash contract.)
    */
  def applyBatch(spark: SparkSession, baseDir: String, batch: DataFrame): Unit = {
    val stateDir = s"$baseDir/state"
    val topkDir = s"$baseDir/topk"
    val wLast = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pk")).orderBy(col("pos").desc)
    val last = batch
      .withColumn("rn", row_number().over(wLast)).filter(col("rn") === 1)
      .select(cohortOf(col("pk")).cast("int").as("cohort"),
        col("pk"), col("pos"), col("op"), col("value"))
      .localCheckpoint(true) // feeds the state merge AND the touched list
    // touched cohorts: distinct over the batch — control-plane (≤10 here;
    // the group key is low-cardinality by the op's own contract)
    val touched = last.select("cohort").distinct().collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) return
    val hit = touched.toSet
    val prior = MetaTables.readLog(stateDir)
    // merged post-batch state OF THE TOUCHED COHORTS ONLY: the prior
    // read takes only their files, so untouched directories are never
    // opened
    val mergedTouched = (prior match {
      case None =>
        last.filter(col("op") =!= "delete")
          .select("cohort", "pk", "pos", "value")
      case Some(log) =>
        MetaTables.read(spark, stateDir, log, log.files.filter(f => hit(f.bucket)))
          .select("cohort", "pk", "pos", "value")
          .join(last.select("pk"), Seq("pk"), "left_anti")
          .unionByName(last.filter(col("op") =!= "delete")
            .select("cohort", "pk", "pos", "value"))
    }).localCheckpoint(true) // one materialization, reused by the state
    // write and the rank refresh below
    MetaTables.write(stateDir, prior,
      mergedTouched.repartition(col("cohort")), // ~one file per cohort directory
      prior.getOrElse(StateLog.empty(mergedTouched.schema, "cohort", 10)), hit)
    // re-rank the touched cohorts straight from the merged frame — it IS
    // those cohorts' post-merge state, no re-read of what we just wrote
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort")).orderBy(col("value").desc, col("pk"))
    val fresh = mergedTouched
      .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= K)
      .select(col("cohort").cast("long").as("cohort"),
        col("rnk"), col("pk"), col("value"))
    // the view commits like its state: per-cohort files, replacing
    // exactly the touched cohorts' (a cohort the merge emptied keeps
    // none); the view is K×cohorts, so one task writes it
    val view = MetaTables.readLog(topkDir)
    MetaTables.write(topkDir, view, fresh.coalesce(1),
      view.getOrElse(StateLog.empty(fresh.schema, "cohort", 10)), hit)
  }

  /** The maintained view, typed for output. */
  def read(spark: SparkSession, baseDir: String): DataFrame = {
    val dir = s"$baseDir/topk"
    MetaTables.readLog(dir) match {
      case None => spark.emptyDataFrame
      case Some(log) => MetaTables.read(spark, dir, log, log.files)
        .select(col("cohort"), col("rnk"), col("pk").as("user_id"), col("value"))
        .orderBy("cohort", "rnk")
    }
  }
}
