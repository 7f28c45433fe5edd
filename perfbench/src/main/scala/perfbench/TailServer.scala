package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, IOException, InputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import graft.sources.{BinlogWire, BinlogWriter, MysqlAuth}

/** An append-only binlog endpoint for the live-tail workload. It speaks
  * the same packets as the library's loopback server (handshake,
  * scramble check, `COM_BINLOG_DUMP_GTID`, `[0x00][event]` packets, EOF
  * at the end of what is published), but keeps every transaction
  * pre-split into event spans, so a connection costs O(transactions
  * sent) rather than a re-split of the whole archive.
  *
  * [[publishAt]] runs the generator: transaction i becomes visible at
  * `t0 + i / rate` (open loop), and the lateness of each publish is
  * kept so a run can be marked invalid when the generator fell behind.
  */
final class TailServer(txs: Vector[Tx], user: String, password: String) {
  private val stored = MysqlAuth.storedHash(password)
  private val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort
  def route: String = s"socket:127.0.0.1:$port:$user:$password"

  private val (fde, txSpans): (Array[Byte], Vector[Vector[Array[Byte]]]) = {
    val head = new BinlogWriter.Stream().bytes // magic + FORMAT_DESCRIPTION
    (head.drop(4), txs.map { tx =>
      val w = new BinlogWriter.Stream()
      Changes.encode(w, tx)
      TailServer.spans(w.bytes.drop(head.length))
    })
  }
  private val firstGno = txs.head.gno

  @volatile private var published = 0
  def publishedCount: Int = published
  val dueNs: Array[Long] = new Array[Long](txs.size)
  val connects = new AtomicInteger(0)
  val eventPackets = new AtomicLong(0)
  val busyNs = new AtomicLong(0)
  @volatile var lateNsMax = 0L

  @volatile private var running = true
  private val acceptor = new Thread(() => acceptLoop(), s"perfbench-tail-$port")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Publish transactions `from until to` on schedule, `rate` per second
    * from `t0`; returns when the last one is out (or on [[stop]]).
    */
  def publishAt(t0: Long, from: Int, to: Int, rate: Double): Unit = {
    var i = from
    while (i < to && running) {
      val due = t0 + ((i - from) * 1e9 / rate).toLong
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      dueNs(i) = due
      published = i + 1
      lateNsMax = math.max(lateNsMax, System.nanoTime() - due)
      i += 1
    }
  }

  def stop(): Unit = {
    running = false
    server.close()
    acceptor.join(5000)
  }

  private def acceptLoop(): Unit =
    while (running) {
      try {
        val s = server.accept()
        try handle(s)
        catch { case _: IOException => () } // client gone mid-stream
        finally s.close()
      } catch { case _: IOException => () } // server socket closed
    }

  private def read(in: InputStream): Array[Byte] =
    BinlogWire.readLogicalPacket { n =>
      val buf = new Array[Byte](n)
      var got = 0
      while (got < n) {
        val r = in.read(buf, got, n - got)
        if (r < 0) throw new IOException("client closed")
        got += r
      }
      buf
    }._2

  private def handle(sock: Socket): Unit = {
    val t0 = System.nanoTime()
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    val connId = connects.incrementAndGet()
    val salt = Array.tabulate[Byte](20)(i => ((connId * 31 + i * 7) % 127 + 1).toByte)
    out.write(BinlogWire.framePackets(0, MysqlAuth.encodeHandshakeV10("8.0.0-perfbench", connId.toLong, salt)))
    out.flush()
    val resp = MysqlAuth.parseHandshakeResponse41(read(in))
    if (resp.username != user || !MysqlAuth.verifyScramble(salt, resp.authResponse, stored)) {
      out.write(BinlogWire.framePackets(2, MysqlAuth.encodeErr(1045, "Access denied")))
      out.flush()
      return
    }
    out.write(BinlogWire.framePackets(2, MysqlAuth.encodeOk()))
    out.flush()
    val req = BinlogWire.parseComBinlogDumpGtid(read(in))
    val upTo = published
    // skip the covered prefix in one step: the client's set is the
    // contiguous run of fully fetched transactions
    val start = req.set.intervals.getOrElse(Changes.Uuid, Vector.empty).headOption
      .filter(r => r.start <= firstGno).map(r => (r.end - firstGno + 1).toInt).getOrElse(0)
    var seq = 1
    var sent = 0L
    def send(span: Array[Byte]): Unit = {
      val p = new Array[Byte](span.length + 1)
      System.arraycopy(span, 0, p, 1, span.length)
      out.write(BinlogWire.framePackets(seq & 0xff, p))
      seq += 1; sent += 1
    }
    send(fde)
    var i = math.max(0, start)
    while (i < upTo) {
      if (!req.set.contains(Changes.Uuid, txs(i).gno)) txSpans(i).foreach(send)
      i += 1
    }
    out.write(BinlogWire.framePackets(seq & 0xff, Array[Byte](0xfe.toByte, 0, 0, 0, 0)))
    out.flush()
    eventPackets.addAndGet(sent)
    busyNs.addAndGet(System.nanoTime() - t0)
  }
}

object TailServer {
  /** Split concatenated binlog events into per-event byte spans by
    * walking the 19-byte headers' event-size fields.
    */
  def spans(events: Array[Byte]): Vector[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    var pos = 0
    while (pos < events.length) {
      val len = (events(pos + 9) & 0xff) | ((events(pos + 10) & 0xff) << 8) |
        ((events(pos + 11) & 0xff) << 16) | ((events(pos + 12) & 0xff) << 24)
      out += java.util.Arrays.copyOfRange(events, pos, pos + len)
      pos += len
    }
    out.result()
  }
}
