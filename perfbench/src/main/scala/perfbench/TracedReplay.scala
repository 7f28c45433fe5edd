package perfbench

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.GtidSet
import graft.sources._
import graft.streaming.FeedRow

/** The traced run's stream source: the library's [[GtidReplayStream]]
  * unchanged, built with a `transportFactory` that puts [[TimedTransport]]
  * between the reconnect policy and the wire, exactly where the default
  * routing puts the bare transport. Options as for
  * [[GtidReplayProvider]] (single-source form).
  */
final class TracedReplayProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GtidReplayProvider.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val sources = Seq((opts.get("uuid"), opts.get("bufferid")))
    val parts = Option(opts.get("numpartitions")).map(_.toInt).getOrElse(4)
    val cap = Option(opts.get("maxrowsperbatch")).map(_.toLong)
    new Table with SupportsRead {
      override def name(): String = s"traced-replay(${sources.head._2})"
      override def schema(): StructType = GtidReplayProvider.schema
      override def capabilities(): util.Set[TableCapability] =
        Set(TableCapability.MICRO_BATCH_READ).asJava
      override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
        override def readSchema(): StructType = GtidReplayProvider.schema
        override def toMicroBatchStream(checkpoint: String): MicroBatchStream =
          new GtidReplayStream(sources, parts, cap, TracedReplayProvider.transport _)
      }
    }
  }
}

object TracedReplayProvider {
  /** The default routing of [[GtidReplayStream.defaultTransport]] for the
    * two routes the benchmark drives, with the timing decorator inside
    * the reconnect policy so every attempt, failed ones included, is seen.
    */
  def transport(id: String): BinlogTransport = {
    val inner =
      if (id.startsWith("socket:")) {
        val Array(host, port, user, password) = id.stripPrefix("socket:").split(":", 4)
        new SocketTransport(host, port.toInt, user, password)
      } else new BinlogBufferTransport(id.stripPrefix("binlog:"))
    new ReconnectingTransport(new TimedTransport(inner))
  }
}

/** Transport-seam timing: every `fetch` attempt as a span, with the rows
  * it returned; a failed attempt (which the reconnect policy retries) is
  * a span marked `failed`.
  */
final class TimedTransport(inner: BinlogTransport) extends BinlogTransport {
  override def fetch(): Vector[FeedRow] =
    Trace.spanCounted("sources.transport.fetch")(inner.fetch())(r => Map("rows" -> r.size.toLong))

  override def commit(uuid: String, committed: GtidSet): Unit = inner.commit(uuid, committed)
}
