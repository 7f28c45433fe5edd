package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, IOException, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** An in-process stand-in for the MySQL master's binlog endpoint —
  * the same role MemoryStream plays for Structured Streaming sources:
  * it speaks the REAL packets over a real localhost TCP socket so
  * [[SocketTransport]] (and anything above it) can be driven
  * end-to-end in a harness with no MySQL server. Per connection:
  *
  *   1. greet with HandshakeV10 carrying a per-connection salt (the
  *      challenge that makes a sniffed token worthless on replay);
  *   2. verify the client's `mysql_native_password` token against a
  *      STORED double-SHA1 ([[MysqlAuth.verifyScramble]] — the server
  *      never sees the password), answering OK or ERR 1045;
  *   3. parse the `COM_BINLOG_DUMP_GTID` request
  *      ([[BinlogWire.parseComBinlogDumpGtid]]) and stream the
  *      archive's events as `[0x00][event]` packets, SKIPPING
  *      transactions covered by the request's GTID set — the server
  *      half of the resume protocol;
  *   4. finish with an EOF packet if the request's flags carry
  *      `BINLOG_DUMP_NON_BLOCK`; otherwise hold the connection open at
  *      the binlog tip until the client hangs up, as a real master does
  *      (it would stream new events there as they commit).
  *
  * `archive` is any [[BinlogWriter]]-encoded binlog file and is
  * swappable at runtime (the binlog "growing");
  * `killAfterPacketsOnFirstConn` tears the first connection down
  * mid-stream to exercise the client's reconnect ladder.
  */
final class LoopbackBinlogServer(
    user: String,
    stored: Array[Byte],
    @volatile var archive: Array[Byte],
    killAfterPacketsOnFirstConn: Int = Int.MaxValue
) {
  private val server = new ServerSocket(0, 8, InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort
  private val conns = new AtomicInteger(0)
  /** Connections accepted so far, one FDE packet each. */
  def connections: Int = conns.get()
  /** Event packets (FDE included) that actually crossed the wire —
    * what resume-protocol assertions count.
    */
  val eventPacketsServed = new AtomicLong(0)
  @volatile private var running = true
  private val thread = new Thread(() => acceptLoop(), s"loopback-binlog-$port")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; server.close() }

  private def acceptLoop(): Unit =
    while (running) {
      try {
        val s = server.accept()
        try handle(s)
        catch { case _: Throwable => () } // injected kill / client gone
        finally s.close()
      } catch { case _: Throwable => () } // server socket closed
    }

  private def read(in: InputStream): Array[Byte] = {
    def fully(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var got = 0
      while (got < n) {
        val r = in.read(buf, got, n - got)
        if (r < 0) throw new IOException("client closed")
        got += r
      }
      buf
    }
    BinlogWire.readLogicalPacket(fully)._2
  }

  private def write(out: OutputStream, seq: Int, payload: Array[Byte]): Unit = {
    out.write(BinlogWire.framePackets(seq, payload)); out.flush()
  }

  private def handle(sock: Socket): Unit = {
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    val connId = conns.incrementAndGet()
    val salt = Array.tabulate[Byte](20)(i => ((connId * 31 + i * 7) % 127 + 1).toByte)
    write(out, 0, MysqlAuth.encodeHandshakeV10("8.0.0-loopback", connId.toLong, salt))
    val resp = MysqlAuth.parseHandshakeResponse41(read(in))
    if (resp.username != user ||
        !MysqlAuth.verifyScramble(salt, resp.authResponse, stored)) {
      write(out, 2, MysqlAuth.encodeErr(1045, s"Access denied for user '${resp.username}'"))
      return
    }
    write(out, 2, MysqlAuth.encodeOk())
    val req = BinlogWire.parseComBinlogDumpGtid(read(in))
    val (fde, segs) = LoopbackBinlogServer.segments(archive)
    val kill = if (connId == 1) killAfterPacketsOnFirstConn else Int.MaxValue
    var sent = 0
    var seq = 1
    def sendEvent(span: Array[Byte]): Unit = {
      if (sent >= kill) throw new IOException("injected mid-stream kill")
      write(out, seq, Array[Byte](0x00) ++ span)
      seq += 1; sent += 1
      eventPacketsServed.incrementAndGet()
    }
    sendEvent(fde)
    segs.foreach { case (gate, spans) =>
      if (!gate.exists { case (u, g) => req.set.contains(u, g) })
        spans.foreach(sendEvent)
    }
    if ((req.flags & BinlogWire.BinlogDumpNonBlock) != 0)
      write(out, seq, Array[Byte](0xfe.toByte, 0, 0, 0, 0)) // EOF
    else while (in.read() >= 0) () // blocking dump: hold until hang-up
  }
}

object LoopbackBinlogServer {
  /** Split an archive file into per-event byte spans (header walk)
    * and group them into serving segments, FDE apart — what lets the
    * server serve event packets and honor the request's GTID set
    * without re-encoding anything. A segment is `(gate, spans)`:
    * `Some((uuid, gno))` gates a transaction (skipped when the
    * request's set covers it), `None` marks events OUTSIDE any
    * transaction — ROTATE and friends between an XID and the next
    * GTID (the bounded-rotation archive shape) — which always serve;
    * a real master streams them unconditionally too.
    */
  def segments(
      file: Array[Byte]): (Array[Byte], Vector[(Option[(String, Long)], Vector[Array[Byte]])]) = {
    var pos = 4
    val spans = Vector.newBuilder[Array[Byte]]
    while (pos < file.length) {
      val len = (file(pos + 9) & 0xff) | ((file(pos + 10) & 0xff) << 8) |
        ((file(pos + 11) & 0xff) << 16) | ((file(pos + 12) & 0xff) << 24)
      spans += java.util.Arrays.copyOfRange(file, pos, pos + len)
      pos += len
    }
    val all = spans.result()
    val events = BinlogDecoder.decode(file) // aligns 1:1 with spans
    val segs = Vector.newBuilder[(Option[(String, Long)], Vector[Array[Byte]])]
    var cur: Option[(String, Long)] = None
    var buf = Vector.newBuilder[Array[Byte]]
    def flush(gate: Option[(String, Long)]): Unit = {
      val s = buf.result()
      if (s.nonEmpty) segs += ((gate, s))
      buf = Vector.newBuilder
    }
    events.zip(all).drop(1).foreach { case (ev, span) =>
      ev match {
        case g: BinlogCodec.Gtid =>
          flush(None) // events since the last XID ride ungated
          cur = Some((g.uuid, g.gno))
          buf += span
        case _: BinlogCodec.Xid =>
          buf += span
          flush(cur)
          cur = None
        case _ => buf += span
      }
    }
    // trailing events: an unterminated transaction stays gated by its
    // GTID (tx assembly client-side drops the uncommitted tail
    // anyway); bare trailing events (e.g. a final ROTATE) serve
    flush(cur)
    (all.head, segs.result())
  }
}
