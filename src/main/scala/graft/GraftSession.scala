package graft

import org.apache.spark.sql.SparkSession

/** One place to construct the engine's SparkSession so every entry
  * point (Verify / Bench / EntrySmoke / tests) runs with the same
  * session-scoped settings:
  *   - UTC session timezone (oracle determinism);
  *   - shuffle partitions sized to the local core count (not 200 —
  *     at cluster scale this would come from AQE + a real default);
  *   - `nanosAsLong`: some fixture generations stored events `ts` as
  *     TIMESTAMP(NANOS), which Spark 4 refuses unless this legacy flag
  *     is set; current generations use `timestamp[us]` and ignore the
  *     flag entirely ([[Tables.normalizeEventsTs]] branches on the read
  *     dtype, FIXTURES.md documents the variants). It lives here, at
  *     session construction, so table loaders stay side-effect free
  *     (no hidden session mutation from a read path).
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // The registry is ~180 queries x several codegen stages each;
      // the default 100-entry compiled-class cache thrashes end to
      // end, so a query warmed early re-pays Janino compilation (a
      // single-threaded multi-second cost for the biggest stages) at
      // its timed rep. Classes are small; 128 GiB holds thousands.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // the engine's SQL surface (cosine_similarity, dot_product,
      // simhash32) resolves in every session built here
      .withExtensions(new GraftExtensions)
}
