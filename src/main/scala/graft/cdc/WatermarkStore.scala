package graft.cdc

import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Dataset, SparkSession}

import graft.model.GtidSet

/** Read-a-table-that-may-not-exist-yet, shared by the incremental
  * rollup and top-k state tables ([[AggMaintenance]],
  * [[TopkMaintenance]]). `None` covers exactly the two
  * recoverable "no data yet" shapes: the path is absent
  * (PATH_NOT_FOUND — first ever run) or present but file-less
  * (UNABLE_TO_INFER_SCHEMA — an overwrite was torn mid-write, leaving
  * only temporaries; both consumers are idempotent-replay safe, so
  * treating a torn table as empty self-heals on the next write
  * instead of crash-looping). Every other failure propagates.
  */
private[cdc] object MetaTables {
  def readIfExists(spark: SparkSession, path: String): Option[DataFrame] =
    try Some(spark.read.parquet(path))
    catch {
      case e: AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" ||
            e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
        None
    }

  // ---- state-table schema sidecar ----------------------------------------
  // The single-table analog of Delta's transaction-log schema: a
  // bucketed COW table's parquet footers can disagree mid-evolution,
  // so the authoritative schema lives beside the data. `_`-prefixed:
  // Spark's file listing treats it as hidden, so the parquet reader
  // never sees it. java.nio is fine here — the harness is local-FS;
  // a cluster deployment swaps in the Hadoop FileSystem API at this
  // one seam.

  private def sidecar(dir: String) = java.nio.file.Paths.get(dir, "_graft_schema.json")

  /** Nullability/metadata-insensitive view of a schema: parquet reads
    * come back all-nullable, while freshly-projected batches carry
    * tighter nullability — without normalizing, every batch would look
    * like a schema evolution. (Shallow by design: state columns are
    * flat primitives.)
    */
  def normalized(s: StructType): StructType =
    StructType(s.fields.map(f => StructField(f.name, f.dataType, nullable = true)))

  /** The state table's schema: the sidecar when present; self-heals
    * from a footer-merged read when the sidecar was lost to a torn
    * write (possible only between the data and sidecar writes of one
    * apply — single-writer control plane, same contract as
    * [[WatermarkStore.upsert]]).
    */
  def readStateSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val p = sidecar(dir)
    if (java.nio.file.Files.exists(p)) {
      val json = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      Some(normalized(DataType.fromJson(json).asInstanceOf[StructType]))
    } else {
      try Some(normalized(
        spark.read.option("mergeSchema", "true").parquet(dir).schema))
      catch {
        case e: AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" ||
              e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
          None
      }
    }
  }

  /** True iff the schema sidecar exists: the driver-side test for "no
    * state table yet" where a caller only writes the sidecar when absent
    * — unlike [[readStateSchema]], never falls back to a footer read
    * (a Spark job).
    */
  def hasStateSchema(dir: String): Boolean = java.nio.file.Files.exists(sidecar(dir))

  def writeStateSchema(dir: String, schema: StructType): Unit = {
    val p = sidecar(dir)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, normalized(schema).json.getBytes("UTF-8"))
  }

  // ---- state-table bucket-count sidecar -----------------------------------
  // The partitioning FUNCTION (pmod(hash(pk), n)) must travel with the
  // table, not the code: after a bucket split, readers and writers
  // using a stale n would scatter keys across the wrong directories.
  // Same hidden-file seam as the schema sidecar.

  private def bucketSidecar(dir: String) =
    java.nio.file.Paths.get(dir, "_graft_buckets.json")

  def readBucketCount(dir: String, default: Int): Int = {
    val p = bucketSidecar(dir)
    if (java.nio.file.Files.exists(p))
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toInt
    else default
  }

  def writeBucketCount(dir: String, n: Int): Unit = {
    val p = bucketSidecar(dir)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, n.toString.getBytes("UTF-8"))
  }

  // ---- resumable-snapshot chunk-bounds sidecar ----------------------------
  // Chunk GEOMETRY must be decided once and persisted: a resumed
  // snapshot that re-derived lo/hi from a feed that was not actually
  // pinned would compute DIFFERENT chunk ranges while chunk ids are
  // already marked covered — rows silently missed or duplicated.
  // Same hidden-file seam as the schema/bucket sidecars.

  private def chunkSidecar(dir: String, table: String) =
    java.nio.file.Paths.get(dir, s"_graft_chunks_$table.json")

  def readChunkBounds(dir: String, table: String): Option[(Long, Long, Int)] = {
    val p = chunkSidecar(dir, table)
    if (!java.nio.file.Files.exists(p)) None
    else {
      val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val m = """\{"lo":(-?\d+),"hi":(-?\d+),"numChunks":(\d+)\}""".r
      s.trim match {
        case m(lo, hi, n) => Some((lo.toLong, hi.toLong, n.toInt))
        case _ => throw new IllegalStateException(s"unreadable chunk-bounds sidecar $p: $s")
      }
    }
  }

  def writeChunkBounds(dir: String, table: String, lo: Long, hi: Long, numChunks: Int): Unit = {
    val p = chunkSidecar(dir, table)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      s"""{"lo":$lo,"hi":$hi,"numChunks":$numChunks}""".getBytes("UTF-8"))
  }
}

/** One per-table watermark row — the Spark analog of
  * `go_cdc_table_meta(data_source_id, sc, tb, last_pos)`
  * (`internal/model/tablemeta.go:25-35`). `pos` is a serialized
  * [[GtidSet]] (the JSON `last_pos` of the reference, normalized to
  * the canonical MySQL text form).
  */
final case class TableWatermark(source: String, schema: String, table: String, pos: String)

/** Compile the consistency-protocol gate into the plan.
  *
  * The docs' rule — apply an incremental event only when its GTID is
  * NOT already covered by the table's snapshot watermark
  * (`docs/全量抓取逻辑.md:44-52`) — is semantically a stream–static
  * semi join against a tiny watermark set. Since a watermark is a
  * handful of intervals, the cheapest plan is no join at all: unroll
  * the intervals into a codegen'd range predicate. O(#intervals) per
  * row, broadcast-free, AND-pushable into the scan.
  */
object WatermarkGate {

  /** True iff (uuid, pos) is covered by `wm` — the in-plan form of
    * [[GtidSet.contains]].
    */
  def containsColumn(wm: GtidSet, uuid: String, pos: Column): Column =
    wm.intervals
      .getOrElse(uuid, Vector.empty)
      .map(r => pos.between(lit(r.start), lit(r.end)))
      .foldLeft(lit(false))(_ || _)
}

/** Op #20: the watermark metadata sink — select-then-upsert of
  * per-table stream positions (`internal/model/tablemeta.go:56-112`,
  * called from `fullamount_service.go:143` and
  * `data_source.go:96-102`).
  *
  * Backed by one JSON file, `<path>/watermarks.json`, holding every
  * (source, schema, table) row — the analog of Structured Streaming's
  * driver-side offset/commit log files. Upsert MERGES GTID sets
  * (interval union) rather than overwriting — positions only ever
  * grow, so a replayed upsert is idempotent.
  *
  * Each upsert writes the merged rows to a temp file beside the log
  * and renames it into place (`ATOMIC_MOVE`): a reader sees the old
  * file or the new one, never a torn or missing one, and a crash
  * between the write and the rename leaves only a stray temp file that
  * no reader opens and the next upsert overwrites. No Spark job, no
  * commit protocol. java.nio is the same local-FS seam as the
  * [[MetaTables]] sidecars; a cluster deployment swaps in the Hadoop
  * FileSystem API (rename-based atomic create) there.
  *
  * The control-plane state here is deliberately driver-resident: one
  * row per (source, schema, table) — thousands at most (the reference
  * keeps it in a metadata MySQL). Data-plane state never flows through
  * it.
  */
final class WatermarkStore(path: String) {
  import WatermarkStore._

  private val dir = Paths.get(path)
  private val file = dir.resolve(FileName)

  /** In-process cache of the file's rows. The store is single-writer
    * control-plane state (the contract [[upsert]] already documents),
    * so within one store instance every read after the first — and
    * after every upsert — is answered from memory. A fresh instance
    * (restart, another process's run) re-reads disk; the reference
    * makes the same session-cache assumption of its metadata MySQL
    * connection.
    */
  @volatile private var cached: Option[Seq[TableWatermark]] = None

  private def rows: Seq[TableWatermark] =
    cached.getOrElse {
      val r =
        if (Files.exists(file)) json.readValue(file.toFile, classOf[Array[TableWatermark]]).toSeq
        else Seq.empty
      cached = Some(r)
      r
    }

  def read(spark: SparkSession): Dataset[TableWatermark] = {
    import spark.implicits._
    rows.toDS()
  }

  /** Current watermark for one table (empty set when absent). */
  def watermark(spark: SparkSession, source: String, schema: String, table: String): GtidSet =
    rows
      .find(w => w.source == source && w.schema == schema && w.table == table)
      .map(w => GtidSet.parse(w.pos))
      .getOrElse(GtidSet.empty)

  /** True iff `candidate` brings nothing new for the table — every
    * GTID already covered ([[GtidSet.subsetOf]]): the replay/resume
    * dedup check of the protocol.
    */
  def covered(spark: SparkSession, source: String, schema: String, table: String,
      candidate: GtidSet): Boolean =
    candidate.subsetOf(watermark(spark, source, schema, table))

  /** Select-then-upsert (`tablemeta.go:64-82`): merge the new position
    * into the existing row's GTID set, insert when absent, then replace
    * the file atomically (write temp, rename over). Read-merge-replace
    * is safe because this is single-writer control-plane state (same
    * assumption the reference makes of its metadata DB).
    */
  def upsert(spark: SparkSession, newRows: Seq[TableWatermark]): Unit = {
    val merged = (rows ++ newRows)
      .groupBy(w => (w.source, w.schema, w.table))
      .map { case ((src, sc, tb), ws) =>
        val set = ws.foldLeft(GtidSet.empty)((acc, w) => acc.merge(GtidSet.parse(w.pos)))
        TableWatermark(src, sc, tb, set.serialize)
      }
      .toSeq
      .sortBy(w => (w.source, w.schema, w.table))
    Files.createDirectories(dir)
    val tmp = dir.resolve(TmpName)
    Files.write(tmp, json.writeValueAsBytes(merged))
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    cached = Some(merged)
  }
}

object WatermarkStore {
  private[cdc] val FileName = "watermarks.json"
  private[cdc] val TmpName = s".$FileName.tmp"

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
}
