package graft.cdc

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental view maintenance for aggregates over the CDC feed —
  * the serving-layer half of a CDC warehouse: keep a rollup of the
  * MATERIALIZED STATE (not of the raw event stream) fresh at
  * O(batch + rollup) per micro-batch, instead of recomputing an
  * O(state) aggregate after every apply.
  *
  * The classic IVM problem is that updates and deletes RETRACT: a
  * key's old value must leave the aggregate when its new value
  * enters. That is exactly why CDC row events carry before-images
  * (op #22, the reference's update model
  * `internal/cannal/handler.go:83-111`): each event's delta is
  * computable from the event alone —
  *
  *   Δsum = contrib(after) − contrib(before),
  *   Δn   = exists(after) − exists(before)
  *
  * with `contrib(e) = value when op ≠ delete else 0`. Per key the
  * deltas TELESCOPE: whatever the op sequence (update-before-insert,
  * delete-reinsert, …), the running sum collapses to the last event's
  * contribution, so the maintained rollup converges to the aggregate
  * of latest-wins state without ever reading that state.
  *
  * Exactness: sums accumulate in DECIMAL(18,4) (the [[graft.ops.Exact]]
  * posture) — incremental accumulation visits values in a different
  * order/grouping than a direct aggregate, which double arithmetic
  * would turn into a hash mismatch; decimal addition is associative.
  *
  * Scale: the delta computation is one narrow projection over the
  * batch; the rollup table has one row per group (cohorts here —
  * thousands at most in practice), so the merge-overwrite is
  * control-plane-sized. A rollup keyed fine enough to be data-sized
  * would use the bucketed COW layout of [[CdcPipeline]] instead.
  */
object AggMaintenance {

  /** Rollup group: a user cohort (`pk % 10` — stands in for any
    * low-cardinality dimension of the state).
    */
  private def cohortCol = pmod(col("pk"), lit(10)).as("cohort")

  /** Augment an ordered feed with before-images via `lag` over
    * (pk, pos) — the harness stand-in for a transport that ships
    * before-images inline (the reference's update events do).
    */
  def withImages(feed: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pk")).orderBy(col("pos"))
    val base = feed
      .withColumn("prev_op", lag(col("op"), 1).over(w))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
    // event-time rides along when present, so a WINDOWED rollup can
    // target the before-image's window for its retraction
    if (feed.columns.contains("ts")) base.withColumn("prev_ts", lag(col("ts"), 1).over(w))
    else base
  }

  /** Per-event rollup deltas (decimal-exact). */
  def deltas(imaged: DataFrame): DataFrame = {
    val contribAfter = when(col("op") =!= "delete",
      col("value").cast("decimal(18,4)")).otherwise(lit(0).cast("decimal(18,4)"))
    val contribBefore = when(col("prev_op").isNotNull && col("prev_op") =!= "delete",
      col("prev_value").cast("decimal(18,4)")).otherwise(lit(0).cast("decimal(18,4)"))
    val existsAfter = when(col("op") =!= "delete", 1L).otherwise(0L)
    val existsBefore = when(col("prev_op").isNotNull && col("prev_op") =!= "delete", 1L)
      .otherwise(0L)
    imaged.select(
      cohortCol,
      (existsAfter - existsBefore).as("d_n"),
      (contribAfter - contribBefore).as("d_sum"))
  }

  /** The general IVM delta: when the GROUP KEY is itself a function
    * of event attributes (not just of the immutable pk), an update
    * can MOVE a key between groups — the retraction must then target
    * the before-image's group and the addition the after-image's.
    * Each event fans out to (at most) two delta rows:
    *
    *   (group(after),  +contrib(after))
    *   (group(before), −contrib(before))
    *
    * [[deltas]] is the special case group(after) = group(before)
    * (cohort is pk-derived), where the two rows collapse into one.
    * `groupOf(prefix)` renders the group key from the `after` ("")
    * or `before` ("prev_") image columns.
    */
  def movingDeltas(imaged: DataFrame, groupOf: String => org.apache.spark.sql.Column)
      : DataFrame = {
    val contribAfter = when(col("op") =!= "delete",
      col("value").cast("decimal(18,4)")).otherwise(lit(0).cast("decimal(18,4)"))
    val contribBefore = when(col("prev_op").isNotNull && col("prev_op") =!= "delete",
      col("prev_value").cast("decimal(18,4)")).otherwise(lit(0).cast("decimal(18,4)"))
    val existsAfter = when(col("op") =!= "delete", 1L).otherwise(0L)
    val existsBefore = when(col("prev_op").isNotNull && col("prev_op") =!= "delete", 1L)
      .otherwise(0L)
    val add = imaged.select(groupOf("").as("grp"),
      existsAfter.as("d_n"), contribAfter.as("d_sum"))
    val retract = imaged.select(groupOf("prev_").as("grp"),
      (-existsBefore).as("d_n"), (-contribBefore).as("d_sum"))
    add.unionByName(retract).filter(col("grp").isNotNull)
  }

  /** Merge one batch's deltas into the rollup table (read-modify-
    * overwrite — the rollup is one row per cohort).
    */
  def applyDelta(spark: SparkSession, rollupDir: String, batchImaged: DataFrame): Unit =
    mergeDeltaRows(spark, rollupDir,
      deltas(batchImaged).withColumnRenamed("cohort", "grp"), keyName = "cohort")

  /** [[movingDeltas]] variant of [[applyDelta]]: one batch of
    * group-moving deltas merged into the rollup under `keyName`.
    */
  def applyMovingDelta(
      spark: SparkSession, rollupDir: String, batchImaged: DataFrame,
      groupOf: String => org.apache.spark.sql.Column, keyName: String): Unit =
    mergeDeltaRows(spark, rollupDir, movingDeltas(batchImaged, groupOf), keyName)

  /** Shared merge: aggregate (grp, d_n, d_sum) delta rows, add to the
    * existing rollup, drop zeroed groups, overwrite.
    */
  private def mergeDeltaRows(
      spark: SparkSession, rollupDir: String, deltaRows: DataFrame,
      keyName: String): Unit = {
    val d = deltaRows
      .groupBy(col("grp").as(keyName))
      .agg(sum(col("d_n")).as("n_rows"), sum(col("d_sum")).as("sum_value"))
    val merged = MetaTables.readIfExists(spark, rollupDir) match {
      case None => d
      case Some(existing) =>
        existing.select(col(keyName), col("n_rows"), col("sum_value"))
          .unionByName(d)
          .groupBy(keyName)
          .agg(sum(col("n_rows")).as("n_rows"), sum(col("sum_value")).as("sum_value"))
    }
    // pin the sum's decimal type so repeated merge cycles don't widen
    // precision round-trip over parquet (sum(decimal) grows precision)
    val out = merged
      .select(col(keyName), col("n_rows"),
        col("sum_value").cast("decimal(28,4)").as("sum_value"))
      .filter(col("n_rows") =!= 0 || col("sum_value") =!= 0)
      .localCheckpoint(true)
    out.coalesce(1).write.mode("overwrite").parquet(rollupDir)
  }

  /** [[applyMovingDelta]] against a BUCKETED rollup layout — for
    * rollups whose group key is data-sized (per-window, per-entity)
    * rather than a handful of cohorts. The rollup parquet is
    * hash-partitioned on `pmod(hash(grp), nBuckets)` exactly like the
    * [[CdcPipeline]] state table, and one apply:
    *
    *   1. aggregates the batch's deltas (O(batch), map-side partial);
    *   2. collects the touched bucket ids (≤ nBuckets — control
    *      plane);
    *   3. reads ONLY the touched buckets' files of the existing rollup,
    *      merges, and commits new files for those buckets through the
    *      rollup's manifest ([[MetaTables.write]]).
    *
    * Per-batch cost is O(batch + touched-bucket rollup) ON DISK TOO —
    * the property the flat layout loses once the rollup outgrows a
    * single overwrite. A bucket whose every group zeroes out keeps no
    * file (same emptied-bucket rule as the state sink).
    */
  def applyMovingDeltaBucketed(
      spark: SparkSession, rollupDir: String, batchImaged: DataFrame,
      groupOf: String => org.apache.spark.sql.Column, keyName: String,
      nBuckets: Int = 16): Unit = {
    val d = movingDeltas(batchImaged, groupOf)
      .groupBy(col("grp").as(keyName))
      .agg(sum(col("d_n")).as("n_rows"), sum(col("d_sum")).as("sum_value"))
      .withColumn("rbucket", pmod(hash(col(keyName)), lit(nBuckets)))
      .localCheckpoint(true) // reused by the touched-list and the merge
    val touched = d.select("rbucket").distinct().collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) return
    val hit = touched.toSet
    val prior = MetaTables.readLog(rollupDir)
    val merged = prior match {
      case None => d
      case Some(log) =>
        MetaTables.read(spark, rollupDir, log, log.files.filter(f => hit(f.bucket)))
          .select(col(keyName), col("n_rows"), col("sum_value"), col("rbucket"))
          .unionByName(d)
          .groupBy(col(keyName), col("rbucket"))
          .agg(sum(col("n_rows")).as("n_rows"), sum(col("sum_value")).as("sum_value"))
    }
    val out = merged
      .select(col(keyName), col("n_rows"),
        col("sum_value").cast("decimal(28,4)").as("sum_value"), col("rbucket"))
      .filter(col("n_rows") =!= 0 || col("sum_value") =!= 0)
    MetaTables.write(rollupDir, prior,
      out.repartition(math.min(nBuckets, touched.length), col("rbucket")),
      prior.getOrElse(StateLog.empty(out.schema, "rbucket", nBuckets)), hit)
  }

  /** The maintained rollup, typed for output: group key, live row
    * count, decimal-exact sum surfaced as double.
    */
  def read(spark: SparkSession, rollupDir: String, keyName: String = "cohort"): DataFrame =
    MetaTables.readLog(rollupDir) // a bucketed rollup reads the files its manifest names
      .map(log => MetaTables.read(spark, rollupDir, log, log.files))
      .orElse(MetaTables.readIfExists(spark, rollupDir)) match {
      case None => spark.emptyDataFrame
      case Some(df) => df.select(
        col(keyName),
        col("n_rows"),
        col("sum_value").cast("double").as("sum_value"))
        .orderBy(keyName)
    }
}
