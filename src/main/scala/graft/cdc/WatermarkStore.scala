package graft.cdc

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Dataset, Row, SparkSession}

import graft.model.GtidSet

/** Driver-side control-plane files of the cdc tables. java.nio is fine
  * here — the harness is local-FS; a cluster deployment swaps in the
  * Hadoop FileSystem API at this one seam.
  */
private[cdc] object MetaTables {
  private[cdc] val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Crash-injection seam for specs: called with a directory and each
    * commit step taken there — "written" (a write's new data files are
    * on disk), "staged" (a replacement file sits beside the one it will
    * replace), "committed" (a state manifest was renamed into place). A
    * spec throws from it to stop a commit at that step.
    */
  @volatile private[cdc] var onStep: (String, String) => Unit = (_, _) => ()

  /** Read-a-table-that-may-not-exist-yet, shared by the incremental
    * rollup and top-k state tables ([[AggMaintenance]],
    * [[TopkMaintenance]]). `None` covers exactly the two recoverable
    * "no data yet" shapes: the path is absent (first ever run; tested
    * on the driver, so Spark never probes a missing path) or present
    * but file-less (UNABLE_TO_INFER_SCHEMA — an overwrite was torn
    * mid-write, leaving only temporaries; both consumers are
    * idempotent-replay safe, so treating a torn table as empty
    * self-heals on the next write instead of crash-looping). Every
    * other failure propagates.
    */
  def readIfExists(spark: SparkSession, path: String): Option[DataFrame] =
    if (!Files.exists(Paths.get(path))) None
    else
      try Some(spark.read.parquet(path))
      catch {
        case e: AnalysisException if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
      }

  /** Name of the temp file [[replaceAtomically]] stages `name` in. */
  def tmpName(name: String): String = s".$name.tmp"

  /** Replace `file` with `bytes` in one step: write a temp file beside
    * it, then rename it over the file (`ATOMIC_MOVE`). A reader sees the
    * old content or the new, never a torn or missing file; a crash
    * before the rename leaves only the temp file, which no reader opens
    * and the next replace overwrites. The rename is atomic on a local FS
    * and on HDFS, not on an object store. The temp file is not fsynced:
    * atomic against a process crash, not a power loss.
    */
  def replaceAtomically(file: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(file.getParent)
    val tmp = file.resolveSibling(tmpName(file.getFileName.toString))
    Files.write(tmp, bytes)
    onStep(file.getParent.toString, "staged")
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  // ---- state-table manifest ----------------------------------------------
  // `_`-prefixed: Spark's file listing treats it (and its `.`-prefixed
  // temp file) as hidden, so a directory read never sees it.

  private val LogName = "_graft_log.json"

  def readLog(dir: String): Option[StateLog] = {
    val p = Paths.get(dir, LogName)
    if (Files.exists(p)) Some(json.readValue(p.toFile, classOf[StateLog])) else None
  }

  def writeLog(dir: String, log: StateLog): Unit =
    replaceAtomically(Paths.get(dir, LogName), json.writeValueAsBytes(log))

  /** The rows of `files` under the manifest's schema. The manifest, not
    * a directory listing, decides what a read sees, so files a crashed
    * write left behind are never read; `basePath` recovers the partition
    * column from the `<column>=N/` paths.
    */
  def read(spark: SparkSession, dir: String, log: StateLog, files: Seq[StateFile]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), log.struct)
    else
      spark.read.schema(log.struct).option("basePath", dir)
        .parquet(files.map(f => s"$dir/${f.path}"): _*)

  /** Append `df`, already partitioned the way its files should fall,
    * into the table's partition directories as new files, then
    * [[commit]]: the new files replace, in `next`, the files of the
    * partitions `replaced` selects (none for an append). `prev` is the
    * manifest the write started from. Writers only ever add files; the
    * manifest rename is the one step that changes what the table holds.
    *
    * The new files are every data file `prev` does not name. So that
    * they can only be this write's own output, the files a crashed,
    * uncommitted attempt left behind are swept first.
    */
  def write(dir: String, prev: Option[StateLog], df: DataFrame, next: StateLog,
      replaced: Int => Boolean): Unit = {
    val live = prev.fold(Set.empty[String])(_.files.map(_.path).toSet)
    graft.Fs.deleteRecursively(Paths.get(dir, "_temporary"))
    remove(dir, onDisk(dir, next.partitionBy).filterNot(f => live(f.path)))
    df.write.mode("append").partitionBy(next.partitionBy).parquet(dir)
    onStep(Paths.get(dir).toString, "written")
    val added = onDisk(dir, next.partitionBy).filterNot(f => live(f.path))
    commit(dir, prev, next.copy(files = next.files.filterNot(f => replaced(f.bucket)) ++ added))
  }

  /** Publish `next` as the table's manifest — the commit point: a
    * rename, atomic on a local FS and on HDFS (an object store would
    * need a put-if-absent log instead) — then delete the files of
    * `prev` it no longer names. A crash before the rename leaves the
    * old table intact; one after it leaves only unnamed files, which
    * the next write sweeps.
    */
  def commit(dir: String, prev: Option[StateLog], next: StateLog): Unit = {
    writeLog(dir, next.copy(files = next.files.sortBy(f => (f.bucket, f.path))))
    onStep(Paths.get(dir).toString, "committed")
    val keep = next.files.map(_.path).toSet
    remove(dir, prev.fold(Seq.empty[StateFile])(_.files).filterNot(f => keep(f.path)))
  }

  /** Every data file in the table's partition directories, named or not. */
  private def onDisk(dir: String, partitionBy: String): Seq[StateFile] = {
    val base = Paths.get(dir)
    if (!Files.exists(base)) Seq.empty
    else graft.Fs.listDir(base)
      .filter(_.getFileName.toString.startsWith(s"$partitionBy="))
      .flatMap { d =>
        val b = d.getFileName.toString.stripPrefix(s"$partitionBy=").toInt
        graft.Fs.listDir(d)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => StateFile(b, s"$partitionBy=$b/${p.getFileName}", Files.size(p)))
      }
  }

  /** Delete data files with their checksum siblings, and a partition
    * directory once it is empty.
    */
  private def remove(dir: String, files: Seq[StateFile]): Unit = files.foreach { f =>
    val p = Paths.get(dir, f.path)
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    Files.deleteIfExists(p)
    if (Files.isDirectory(p.getParent) && graft.Fs.listDir(p.getParent).isEmpty)
      Files.delete(p.getParent)
  }

  /** Nullability/metadata-insensitive view of a schema: parquet reads
    * come back all-nullable, while freshly-projected batches carry
    * tighter nullability — without normalizing, every batch would look
    * like a schema evolution. (Shallow by design: state columns are
    * flat primitives.)
    */
  def normalized(s: StructType): StructType =
    StructType(s.fields.map(f => StructField(f.name, f.dataType, nullable = true)))
}

/** One live data file of a state table: its partition value (the
  * bucket or cohort id), its path relative to the table directory and
  * its size in bytes.
  */
private[cdc] final case class StateFile(bucket: Int, path: String, bytes: Long)

/** A resumable snapshot's pinned chunk geometry for one table. */
private[cdc] final case class ChunkBounds(table: String, lo: Long, hi: Long, numChunks: Int)

/** The manifest of a state table, `<dir>/_graft_log.json`: its schema
  * (JSON), its partition column and count, its live data files and the
  * resumable snapshot's pinned chunk bounds. The data files on disk are only
  * candidates; a table is exactly what its manifest names, so replacing
  * the manifest ([[MetaTables.replaceAtomically]]) is the one commit
  * point of every state write.
  *
  *   - The schema is the single-table analog of Delta's transaction-log
  *     schema: parquet footers can't speak for a table whose buckets
  *     were written at different times.
  *   - The partition column and count are the partitioning FUNCTION
  *     (`pmod(hash(pk), n)` for the pipeline's buckets), which must
  *     travel with the table, not the code: after a bucket split,
  *     readers and writers using a stale `n` would scatter keys across
  *     the wrong directories.
  *   - Chunk GEOMETRY must be decided once and persisted: a resumed
  *     snapshot that re-derived lo/hi from a feed that was not actually
  *     pinned would compute DIFFERENT chunk ranges while chunk ids are
  *     already marked covered — rows silently missed or duplicated.
  */
private[cdc] final case class StateLog(
    schema: String, partitionBy: String, buckets: Int,
    files: Seq[StateFile], chunks: Seq[ChunkBounds]) {
  def struct: StructType = DataType.fromJson(schema).asInstanceOf[StructType]
  def withSchema(s: StructType): StateLog = copy(schema = MetaTables.normalized(s).json)
}

private[cdc] object StateLog {
  def empty(schema: StructType, partitionBy: String, buckets: Int): StateLog =
    StateLog(MetaTables.normalized(schema).json, partitionBy, buckets, Seq.empty, Seq.empty)
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
  * Each upsert replaces the file through
  * [[MetaTables.replaceAtomically]] (temp file, then `ATOMIC_MOVE`),
  * the seam that also commits the state-table manifests: a reader sees
  * the old file or the new one, never a torn or missing one. No Spark
  * job, no commit protocol.
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
        if (Files.exists(file))
          MetaTables.json.readValue(file.toFile, classOf[Array[TableWatermark]]).toSeq
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
    MetaTables.replaceAtomically(file, MetaTables.json.writeValueAsBytes(merged))
    cached = Some(merged)
  }
}

object WatermarkStore {
  private[cdc] val FileName = "watermarks.json"
  private[cdc] val TmpName = MetaTables.tmpName(FileName)
}
