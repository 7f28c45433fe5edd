package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, IOException, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}

import graft.model.GtidSet
import graft.streaming.FeedRow

/** A [[BinlogTransport]] that speaks the real wire over TCP: the
  * HandshakeV10 → scramble → HandshakeResponse41 auth exchange
  * ([[MysqlAuth]]), a `COM_BINLOG_DUMP_GTID` request built from the
  * transport's own cumulative watermark ([[BinlogWire]]), then the
  * event-stream packets reassembled into one binlog segment and
  * decoded by [[BinlogDecoder]]; `fetch()` returns the rows of that
  * one connect, which the stream's window keeps until they commit.
  * This is the production shape of `fetch()` the codec stack was built
  * for — the reference re-enters the same connect → auth →
  * `StartSyncGTID` → consume sequence on
  * every reconnect (`/root/reference/internal/cannal/
  * incremental.go:116-177`, bootstrap `internal/syncdb/
  * data_source.go:87-94`). The loopback spec drives it against an
  * in-process server; a real MySQL endpoint swaps the host/port and
  * nothing above the [[BinlogTransport]] seam changes.
  *
  * Stream phase framing (public protocol): each packet payload opens
  * with a marker byte — `0x00` OK prefixes one raw binlog event,
  * `0xfe` with a short payload is EOF, `0xff` is a server error.
  *
  * Failure classification follows the stack's contract: connection
  * problems (refused, reset, timeout, torn packet) surface as
  * [[TransportException]], which the reconnect ladder heals by
  * calling `fetch()` again; content problems (bad bytes, CRC
  * mismatch) stay [[CorruptStreamException]] and fail fast — retry
  * cannot fix the bytes.
  */
final class SocketTransport(
    host: String,
    port: Int,
    username: String,
    password: String,
    serverId: Long = 1001L,
    connectTimeoutMs: Int = 5000,
    readTimeoutMs: Int = 10000
) extends BinlogTransport {

  /** GTIDs of every transaction already fetched COMPLETELY — the
    * resume position the next (re)connect's dump request carries,
    * mirroring the reference's persisted watermark feeding
    * `StartSyncGTID` (`incremental.go:149`). A torn fetch never
    * advances it, so a reconnect re-requests the interrupted tail.
    */
  @volatile private[sources] var watermark: GtidSet = GtidSet.empty

  /** Committed transactions of `uuid` join the resume position, so a
    * fresh transport seeded with a restart's checkpoint dumps only what
    * lies above it. Only a source labelled with its server's uuid (the
    * `sources = <uuid>=<id>` or `uuid` option) names wire positions; a
    * plain label such as the default `harness-src` does not, and its
    * commits leave the resume position as it is.
    */
  override def commit(uuid: String, committed: GtidSet): Unit = synchronized {
    if (scala.util.Try(java.util.UUID.fromString(uuid)).isSuccess)
      watermark = watermark.merge(GtidSet(committed.intervals.filter(_._1 == uuid)))
  }

  override def fetch(): Vector[FeedRow] = synchronized {
    val socket = new Socket()
    try {
      socket.connect(new InetSocketAddress(host, port), connectTimeoutMs)
      socket.setSoTimeout(readTimeoutMs)
      val in = new BufferedInputStream(socket.getInputStream)
      val out = new BufferedOutputStream(socket.getOutputStream)

      // ---- connection phase: greeting, scramble, auth outcome
      val hello = MysqlAuth.parseHandshakeV10(readPacket(in)._2)
      writePacket(out, 1, MysqlAuth.encodeHandshakeResponse41(
        username, MysqlAuth.scramble(password, hello.salt)))
      MysqlAuth.parseAuthResult(readPacket(in)._2) match {
        case MysqlAuth.AuthOk(_) => ()
        case MysqlAuth.AuthErr(code, msg) =>
          throw new TransportException(s"auth failed ($code): $msg")
      }

      // ---- command phase: dump everything above the watermark, and
      // NON_BLOCK so the server ends the stream with EOF at the binlog
      // tip (without it a real master holds the connection for new
      // events and this poll would end only at the read timeout)
      writePacket(out, 0, BinlogWire.comBinlogDumpGtid(serverId, watermark,
        flags = BinlogWire.BinlogThroughGtid | BinlogWire.BinlogDumpNonBlock))

      // ---- stream phase: reassemble magic + event bytes, one segment
      val seg = new java.io.ByteArrayOutputStream()
      seg.write(BinlogCodec.Magic, 0, BinlogCodec.Magic.length)
      var done = false
      while (!done) {
        val (_, payload) = readPacket(in)
        if (payload.isEmpty)
          throw new TransportException("empty packet in event stream")
        else (payload(0) & 0xff) match {
          case 0x00 => seg.write(payload, 1, payload.length - 1)
          case 0xfe if payload.length < 9 => done = true
          case 0xff =>
            MysqlAuth.parseAuthResult(payload) match {
              case MysqlAuth.AuthErr(code, msg) =>
                throw new TransportException(s"server error $code: $msg")
              case other =>
                throw new TransportException(s"unexpected in-stream packet: $other")
            }
          case m =>
            throw new CorruptStreamException(f"unknown stream marker 0x$m%02x")
        }
      }
      val events = BinlogDecoder.decode(seg.toByteArray)
      val rows = BinlogDecoder.toFeedRows(events)
      // advance the watermark by COMMITTED transactions only: an
      // uncommitted tail is dropped by tx assembly, so recording its
      // GTID would skip those rows forever on the next fetch
      var wm = watermark
      var pending: Option[(String, Long)] = None
      events.foreach {
        case g: BinlogCodec.Gtid => pending = Some((g.uuid, g.gno))
        case _: BinlogCodec.Xid =>
          pending.foreach { case (u, g) => wm = wm.add(u, g) }
          pending = None
        case _ => ()
      }
      watermark = wm
      rows
    } catch {
      case e: TransportException => throw e
      case e: IOException =>
        throw new TransportException(s"socket I/O failed: ${e.getMessage}", e)
    } finally socket.close()
  }

  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var got = 0
    while (got < n) {
      val r =
        try in.read(buf, got, n - got)
        catch {
          case e: IOException =>
            throw new TransportException(s"read failed: ${e.getMessage}", e)
        }
      if (r < 0)
        throw new TransportException(s"connection closed mid-packet ($got/$n bytes)")
      got += r
    }
    buf
  }

  /** One LOGICAL packet: frames with a declared length of 0xffffff
    * mean "continuation follows" (MySQL's packet-split convention for
    * payloads ≥ 16 MiB — a single large rows event crosses as several
    * frames), so reassembly loops until a short frame. Short reads
    * surface as [[TransportException]] via [[readFully]].
    */
  private def readPacket(in: InputStream): (Int, Array[Byte]) =
    BinlogWire.readLogicalPacket(readFully(in, _))

  private def writePacket(out: OutputStream, seq: Int, payload: Array[Byte]): Unit = {
    out.write(BinlogWire.framePackets(seq, payload))
    out.flush()
  }
}
