package graft.sources

import java.util

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.model.GtidSet
import graft.streaming.FeedRow

/** A DataSource V2 streaming source whose **offsets are GTID sets** —
  * SURVEY op #15, the binlog stream source
  * (`internal/cannal/incremental.go:99-178`: `StartSyncGTID(gtidSet)`
  * resumes the tail from the last persisted set).
  *
  * The part that matters for reference parity is the offset protocol:
  * Structured Streaming checkpoints `GtidOffset` (the canonical
  * `uuid:s-e:…` text), `latestOffset` advances it as transactions
  * arrive, and `planInputPartitions(start, end)` delivers exactly the
  * events in `end − start` — interval arithmetic over [[GtidSet]],
  * never an enumeration. Restarting a query replays from the
  * checkpointed set, exactly like the reference re-issuing
  * `StartSyncGTID` with the stored watermark. The reference's
  * reconnect/backoff loop (`incremental.go:100-114`) is implemented
  * at the [[BinlogTransport]] seam: every configured source reads
  * through a [[ReconnectingTransport]] carrying the same policy
  * (1 s → ×2 → 30 s cap, give up after 10 consecutive failures,
  * reset on success).
  *
  * These buffers are the harness's binlog: a driver-side list of rows
  * that [[BufferTransport]] serves whole on every fetch. Whatever the
  * transport, the stream itself keeps the one uncommitted window
  * (rows pulled but not yet covered by a committed offset), and like
  * Spark's own `MemoryStream` its rows ship to executors inside the
  * serialized [[GtidReplayPartition]]. That is faithful to the real
  * topology — a binlog dump is one driver-side TCP stream in any
  * engine; scale-out begins after ingestion, at the shuffle into
  * [[graft.streaming.CdcStream]] operators. The production route is
  * [[SocketTransport]] (auth, `COM_BINLOG_DUMP_GTID` resume, decode)
  * behind the same [[BinlogTransport]] seam.
  */
object GtidReplayBuffers {
  private val buffers = TrieMap.empty[String, Vector[FeedRow]]
  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  def register(rows: Seq[FeedRow]): String = {
    val id = s"buf-${counter.incrementAndGet()}"
    buffers(id) = rows.toVector
    id
  }

  /** Append more events — the harness analog of the binlog growing. */
  def append(id: String, rows: Seq[FeedRow]): Unit =
    buffers.updateWith(id)(cur => Some(cur.getOrElse(Vector.empty) ++ rows))

  def get(id: String): Vector[FeedRow] = buffers.getOrElse(id, Vector.empty)
}

/** Offset = a GTID set in canonical text form. */
final case class GtidOffset(set: GtidSet) extends Offset {
  override def json(): String = set.serialize
}

final class GtidReplayProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GtidReplayProvider.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // multi-source form: sources = "uuidA=bufId1,uuidB=bufId2" — one
    // configured holder per server, like the reference's per-source
    // holder list (`cmd/cdc/main.go:21-27`, `data_source.go:41-75`);
    // single-source options stay as the back-compat spelling.
    val sources = Option(opts.get("sources")) match {
      case Some(spec) =>
        spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { part =>
          val Array(u, b) = part.split("=", 2)
          (u.trim, b.trim)
        }
      case None =>
        Seq((Option(opts.get("uuid")).getOrElse("harness-src"), opts.get("bufferid")))
    }
    new GtidReplayTable(
      sources,
      Option(opts.get("numpartitions")).map(_.toInt).getOrElse(4),
      Option(opts.get("maxrowsperbatch")).map(_.toLong)
    )
  }
}

object GtidReplayProvider {
  /** The CDC feed contract of [[graft.cdc.ChangeFeed]], plus the
    * originating server uuid (`source`, appended LAST so single-source
    * consumers reading positionally or via `as[FeedRow]` are
    * unaffected).
    */
  val schema: StructType = StructType(Seq(
    StructField("pos", LongType),
    StructField("ts", TimestampType),
    StructField("pk", LongType),
    StructField("op", StringType),
    StructField("value", DoubleType),
    StructField("source", StringType)
  ))
}

final class GtidReplayTable(
    sources: Seq[(String, String)], numPartitions: Int, maxRowsPerBatch: Option[Long])
    extends Table with SupportsRead {
  require(sources.nonEmpty && sources.forall(_._2 != null),
    "option 'bufferId' (or 'sources') is required")

  override def name(): String = s"gtid-replay(${sources.map(_._2).mkString(",")})"
  override def schema(): StructType = GtidReplayProvider.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = GtidReplayProvider.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new GtidReplayStream(sources, numPartitions, maxRowsPerBatch)
    }
}

object GtidReplayStream {
  /** Default transport routing: a `binlog:<id>` buffer id reads
    * binary binlog segments through [[BinlogDecoder]] (registered in
    * [[BinlogBuffers]]); a `socket:<host>:<port>:<user>:<password>`
    * id dials a live endpoint over TCP ([[SocketTransport]]: auth
    * handshake + `COM_BINLOG_DUMP_GTID` resume + stream decode — the
    * production route); anything else is a plain [[FeedRow]] replay
    * buffer. Every route gets the reference's reconnect/backoff
    * policy between the stream and the wire.
    */
  def defaultTransport(id: String): BinlogTransport =
    new ReconnectingTransport(
      if (id.startsWith("socket:")) {
        id.stripPrefix("socket:").split(":", 4) match {
          case Array(host, port, user, password) =>
            new SocketTransport(host, port.toInt, user, password)
          case _ => throw new IllegalArgumentException(
            s"socket transport id must be socket:<host>:<port>:<user>:<password>: $id")
        }
      } else if (id.startsWith("binlog:")) new BinlogBufferTransport(id.stripPrefix("binlog:"))
      else new BufferTransport(id))
}

final class GtidReplayStream(
    sources: Seq[(String, String)], numPartitions: Int, maxRowsPerBatch: Option[Long] = None,
    transportFactory: String => BinlogTransport = GtidReplayStream.defaultTransport)
    extends MicroBatchStream with SupportsAdmissionControl {

  /** One (reconnecting) transport per configured source — the analog
    * of the reference's per-holder syncer, with its backoff policy
    * ([[ReconnectingTransport]]) between this stream and the wire.
    */
  private val transports: Seq[(String, BinlogTransport)] =
    sources.map { case (uuid, bufferId) => (uuid, transportFactory(bufferId)) }

  /** Every GTID pulled from the transports so far. */
  private var seen: GtidSet = GtidSet.empty

  /** Per source uuid, in arrival order: every pulled row that no
    * committed offset covers yet. This is the only replay buffer
    * between the wire and the micro-batches, so memory is bounded by
    * the in-flight range — the role the reference's cap-1000 channel
    * plays (`fullamount_service.go:27`).
    */
  private[sources] var window: Map[String, Vector[FeedRow]] =
    sources.map { case (uuid, _) => uuid -> Vector.empty[FeedRow] }.toMap

  /** Whether the transports have heard the offset this stream started from. */
  private var resumed = false

  /** One `fetch()` per source. Rows of an already-seen GTID are
    * dropped, so a transport that serves its whole buffer again adds
    * nothing twice. Before the first fetch, the stream's first `start`
    * offset — a restart's checkpoint, which a finished batch already
    * holds — is committed, so a fresh transport asks the wire only for
    * what lies above it.
    */
  private def pull(start: GtidSet): Unit = {
    if (!resumed) { resumed = true; commit(GtidOffset(start)) }
    transports.foreach { case (uuid, transport) =>
      val fresh = transport.fetch().filter(r => !seen.contains(uuid, r.pos))
      window = window.updated(uuid, window(uuid) ++ fresh)
      seen = fresh.foldLeft(seen)((s, r) => s.add(uuid, r.pos))
    }
  }

  override def initialOffset(): Offset = GtidOffset(GtidSet.empty)

  /** Backpressure — the reference bounds in-flight events with a
    * cap-1000 channel (`fullamount_service.go:27`); here the same
    * bound is admission control: a `maxRowsPerBatch` option caps how
    * far the offset may advance per micro-batch
    * (`maxOffsetsPerTrigger`-style), and Spark sizes batches
    * accordingly. With multiple sources the cap applies to the union,
    * drained in deterministic (uuid, pos) order.
    */
  override def getDefaultReadLimit: ReadLimit =
    maxRowsPerBatch.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GtidOffset].set
    pull(from)
    val pending = window.toSeq
      .flatMap { case (uuid, rows) =>
        rows.filter(r => !from.contains(uuid, r.pos)).map(r => (uuid, r.pos))
      }
      .sortBy(identity)
    val admitted = limit match {
      case mr: ReadMaxRows =>
        // Admit whole TRANSACTIONS: a multi-row tx shares one GTID
        // (every row the same (uuid, pos) — the binlog decoder emits
        // exactly this shape), and a GTID-set offset cannot address
        // half of one — admitting part of a pos-group would advance
        // the offset past the unadmitted rows and silently drop them.
        // So the cap counts rows but cuts on tx boundaries, always
        // letting at least one tx through (a tx larger than the cap
        // must still ship whole, as the reference's channel does with
        // its per-event sends inside one tx).
        // kept as Long: a cap above Int.MaxValue must mean "huge", not
        // overflow to a negative budget that admits one tx per batch
        val budget = mr.maxRows()
        val byTx = pending.groupBy(identity).toSeq.sortBy(_._1)
        var taken = 0L
        byTx.takeWhile { case (_, rows) =>
          val first = taken == 0
          taken += rows.length
          first || taken <= budget
        }.map(_._1)
      case _ => pending.distinct
    }
    GtidOffset(admitted.foldLeft(from) { case (acc, (u, p)) => acc.add(u, p) })
  }

  /** The running union of everything currently in the buffers — the
    * analog of each master's `gtid_executed` advancing. All uuids
    * share ONE checkpointed [[GtidSet]]: the offset json reads
    * `uuidA:1-500,uuidB:1-300`. (Unlimited form; Spark calls the
    * admission-control overload above.)
    */
  override def latestOffset(): Offset =
    latestOffset(initialOffset(), ReadLimit.allAvailable())

  override def deserializeOffset(json: String): Offset =
    GtidOffset(GtidSet.parse(json))

  /** Exactly the events in `end − start`: covered by the new offset,
    * not by the old — the per-batch form of "apply only above the
    * watermark". The rows come from the window; the wire is dialed
    * only when the window has never seen all of `end`, which happens
    * when a restarted query re-plans a batch it logged but did not
    * commit. Each source contributes its own partitions, so one slow
    * server never serializes another's read.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GtidOffset].set
    val to = end.asInstanceOf[GtidOffset].set
    if (!to.subsetOf(seen)) pull(from)
    transports.flatMap { case (uuid, _) =>
      val rows = window(uuid)
        .filter(r => to.contains(uuid, r.pos) && !from.contains(uuid, r.pos))
      if (rows.isEmpty) Iterator.empty
      else rows
        .grouped(math.max(1, math.ceil(rows.length.toDouble / numPartitions).toInt))
        .map(chunk => GtidReplayPartition(chunk, uuid): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GtidReplayReaderFactory

  /** Batch-committed notification: once `end` is durable in the
    * checkpoint, no later `planInputPartitions(start ⊇ end, _)` asks
    * for those rows again within this stream instance, so they leave
    * the window. (A query RESTART builds a fresh stream that replays
    * from the wire above its checkpoint, so trimming here never loses
    * recovery rows.) Each transport then hears of the commit through
    * its release hook ([[BinlogTransport.commit]]).
    */
  override def commit(end: Offset): Unit = {
    val set = end match {
      case g: GtidOffset => g.set
      case other => GtidSet.parse(other.json())
    }
    window = window.transform((uuid, rows) => rows.filter(r => !set.contains(uuid, r.pos)))
    transports.foreach { case (uuid, t) => t.commit(uuid, set) }
  }
  override def stop(): Unit = ()
}

/** Rows travel inside the serialized partition (MemoryStream-style). */
final case class GtidReplayPartition(rows: Seq[FeedRow], source: String)
    extends InputPartition

final class GtidReplayReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GtidReplayPartition]
    val rows = p.rows.iterator
    val src = UTF8String.fromString(p.source)
    new PartitionReader[InternalRow] {
      private var cur: FeedRow = _
      override def next(): Boolean = { val h = rows.hasNext; if (h) cur = rows.next(); h }
      override def get(): InternalRow = InternalRow(
        cur.pos,
        DateTimeUtils.fromJavaTimestamp(cur.ts),
        cur.pk,
        UTF8String.fromString(cur.op),
        cur.value,
        src
      )
      override def close(): Unit = ()
    }
  }
}
