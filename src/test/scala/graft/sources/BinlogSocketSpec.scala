package graft.sources

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables
import graft.cdc.{CdcPipeline, ChangeFeed, WatermarkStore}
import graft.streaming.FeedRow

/** The loopback end-to-end: [[SocketTransport]] drives the full wire
  * conversation — TCP connect, auth scramble, dump-from-watermark,
  * event stream — against [[LoopbackBinlogServer]], and the decoded
  * rows land in [[CdcPipeline]] state that must equal the direct
  * (never-serialized) path. With this, every piece of the
  * reference's connection lifecycle has an executable counterpart.
  */
class BinlogSocketSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val U = "3e11fa47-71ca-11e1-9e33-c80aa9429562"

  /** The events feed as FeedRows with binlog-resolution (second)
    * timestamps — the wire carries unix seconds, so the DIRECT
    * comparison path must quantize the same way.
    */
  private def feedRows(): Vector[FeedRow] = {
    import spark.implicits._
    ChangeFeed.fromEvents(Tables.events(spark, sf))
      .select(col("pos"), col("ts"), col("pk"), col("op"), col("value"))
      .as[FeedRow]
      .collect()
      .toVector
      .sortBy(_.pos)
      .map(r => r.copy(ts = new java.sql.Timestamp(r.ts.getTime / 1000 * 1000)))
  }

  private def encodeArchive(
      rows: Seq[FeedRow], trailingRotate: Boolean = false): Array[Byte] = {
    val w = new BinlogWriter.Stream()
    rows.foreach { r =>
      val tsSec = r.ts.getTime / 1000
      w.gtid(U, r.pos, tsSec)
        .tableMap(1L, "harness", "events",
          Seq(BinlogCodec.TYPE_LONGLONG, BinlogCodec.TYPE_DOUBLE), Seq(0, 8), tsSec)
      r.op match {
        case "insert" => w.writeRows(1L, Seq(Seq(Some(r.pk), Some(r.value))), tsSec)
        case "update" =>
          w.updateRows(1L,
            Seq((Seq(Some(r.pk), None), Seq(Some(r.pk), Some(r.value)))), tsSec)
        case _ => w.deleteRows(1L, Seq(Seq(Some(r.pk), Some(r.value))), tsSec)
      }
      w.xid(r.pos, tsSec)
    }
    if (trailingRotate) // the bounded-rotation archive shape: a
      // rotation marker AFTER the last committed transaction
      w.opaque(BinlogCodec.ROTATE,
        Array[Byte](4, 0, 0, 0, 0, 0, 0, 0) ++ "binlog.000002".getBytes("UTF-8"),
        rows.last.ts.getTime / 1000)
    w.bytes
  }

  private def stateOf(rows: Seq[FeedRow], tag: String): Set[(Long, Long, String, Double)] = {
    import spark.implicits._
    val base = s"target/tmp/socket-$tag-${System.nanoTime()}"
    val store = new WatermarkStore(s"$base/wm")
    CdcPipeline.applyBatch(spark, store, s"$base/state", "src", rows.toDF())
    CdcPipeline.readState(spark, s"$base/state")
      .select("pk", "pos", "op", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
  }

  test("socket end-to-end: TCP + auth + dump → CdcPipeline state equals the direct path") {
    val feed = feedRows()
    val mid = feed(feed.length / 2).pos
    val (first, rest) = feed.partition(_.pos <= mid)
    val server = new LoopbackBinlogServer(
      "repl", MysqlAuth.storedHash("s3cret"), encodeArchive(first))
    try {
      val t = new SocketTransport("127.0.0.1", server.port, "repl", "s3cret")
      val got1 = t.fetch()
      assert(got1 == first, "wire rows must equal the encoded feed, in order")
      val wire1 = server.eventPacketsServed.get()
      assert(wire1 == 1 + 4L * first.length, "FDE + 4 events per transaction")
      // the resume protocol over the wire: everything fetched is
      // covered by the transport's watermark, so a re-fetch's dump
      // request makes the server skip every transaction — the fetch
      // returns nothing and the WIRE carries only the FDE
      assert(t.fetch() == Vector.empty, "a covered re-fetch returns no rows")
      assert(server.eventPacketsServed.get() == wire1 + 1,
        "zero transactions may recross the wire for a covered set")
      // the binlog GROWS: only the new transactions ride the wire
      server.archive = encodeArchive(feed)
      val got2 = t.fetch()
      assert(got2 == rest, "a fetch returns only the new transactions, in order")
      assert(server.eventPacketsServed.get() == wire1 + 2 + 4L * rest.length,
        "only the new transactions are served")
      assert(t.watermark.serialize == s"$U:${feed.map(_.pos).min}-${feed.map(_.pos).max}",
        "watermark compresses the fetched GTIDs to one interval")
      // the capstone equality: socket-transported state == direct state
      assert(stateOf(got1 ++ got2, "wire") == stateOf(feed, "direct"),
        "materialized state must be identical through the wire")
    } finally server.stop()
  }

  test("mid-stream disconnect: reconnect ladder heals over a real socket, no loss") {
    val feed = feedRows().take(40)
    val server = new LoopbackBinlogServer(
      "repl", MysqlAuth.storedHash("s3cret"), encodeArchive(feed),
      killAfterPacketsOnFirstConn = 17) // dies mid-transaction
    try {
      val sleeps = Vector.newBuilder[Long]
      val t = new ReconnectingTransport(
        new SocketTransport("127.0.0.1", server.port, "repl", "s3cret"),
        sleep = sleeps += _)
      val rows = t.fetch()
      assert(rows == feed, "the healed fetch must deliver the complete feed")
      assert(sleeps.result() == Vector(1000L),
        "exactly one reconnect at the initial backoff")
    } finally server.stop()
  }

  test("DSv2 over TCP: the socket route streams admission-controlled micro-batches") {
    val feed = feedRows().take(60)
    val server = new LoopbackBinlogServer(
      "repl", MysqlAuth.storedHash("s3cret"), encodeArchive(feed))
    try {
      // the production stack end-to-end: DSv2 micro-batch stream →
      // reconnect ladder → TCP socket → auth → dump-from-watermark →
      // decoder; offsets are GTID sets, batches cut on tx boundaries
      val stream = new GtidReplayStream(
        Seq((U, s"socket:127.0.0.1:${server.port}:repl:s3cret")),
        numPartitions = 2, maxRowsPerBatch = Some(25L))
      var cur = stream.initialOffset().asInstanceOf[GtidOffset]
      var rows = Vector.empty[graft.streaming.FeedRow]
      var batches = 0
      var done = false
      while (!done && batches < 10) {
        val next = stream.latestOffset(cur, stream.getDefaultReadLimit)
          .asInstanceOf[GtidOffset]
        if (next.set == cur.set) done = true
        else {
          rows = rows ++ stream.planInputPartitions(cur, next)
            .flatMap(_.asInstanceOf[GtidReplayPartition].rows)
          cur = next
          batches += 1
        }
      }
      assert(rows.sortBy(_.pos) == feed, "every transaction arrives exactly once")
      assert(batches == 3, s"60 single-row txs under a 25-row cap = 3 batches, got $batches")
      // the wire carried each transaction ONCE plus one FDE per connect,
      // and only latestOffset connects: 3 batches + the empty poll
      val connects = server.eventPacketsServed.get() - 4L * feed.length
      assert(connects == 4,
        s"one connect per latestOffset, none per plan (FDE-only connects: $connects)")
    } finally server.stop()
  }

  test("checkpointed streaming over TCP: grow-while-down, resume from the GTID offset") {
    val feed = feedRows().take(30)
    val (first, rest) = feed.splitAt(20)
    val server = new LoopbackBinlogServer(
      "repl", MysqlAuth.storedHash("s3cret"), encodeArchive(first))
    val ckpt = s"target/tmp/socketstream-${System.nanoTime()}"
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]
    def start() = spark.readStream
      .format(classOf[GtidReplayProvider].getName)
      .option("bufferId", s"socket:127.0.0.1:${server.port}:repl:s3cret")
      .option("uuid", U) // the server's uuid: offsets then name wire positions
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ps = batch.select("pos").collect().map(_.getLong(0))
        delivered.synchronized { delivered ++= ps }
        ()
      }
      .start()
    try {
      val q = start()
      try {
        q.processAllAvailable()
        assert(delivered.synchronized(delivered.toSet) == first.map(_.pos).toSet,
          "the first archive streams through the socket into micro-batches")
      } finally q.stop()
      // the binlog grows WHILE THE QUERY IS DOWN; the restart builds a
      // FRESH transport, which the stream seeds with the checkpointed
      // GTID-set offset, so its dump asks only for the new transactions
      server.archive = encodeArchive(feed)
      delivered.synchronized(delivered.clear())
      val (packets, conns) = (server.eventPacketsServed.get(), server.connections)
      val q2 = start()
      try {
        q2.processAllAvailable()
        assert(delivered.synchronized(delivered.toSet) == rest.map(_.pos).toSet,
          "resume must deliver exactly the transactions above the checkpoint")
      } finally q2.stop()
      // read once the query has stopped: a fetch runs to its EOF, so
      // every connect it made has served its packets
      val served = server.eventPacketsServed.get() - packets
      val connects = server.connections - conns
      assert(served == connects + 4L * rest.length,
        s"the restart's wire carries one FDE per connect and only the ${rest.length} new " +
          s"transactions: $served packets over $connects connects")
    } finally server.stop()
  }

  test("commit trims the replay tail to the uncommitted window") {
    import graft.model.GtidSet
    val feed = feedRows().take(20)
    val (first, rest) = feed.splitAt(12)
    val server = new LoopbackBinlogServer(
      "repl", MysqlAuth.storedHash("s3cret"), encodeArchive(first))
    try {
      // the replay tail is the stream's window: SocketTransport keeps none
      val stream = new GtidReplayStream(
        Seq((U, s"socket:127.0.0.1:${server.port}:repl:s3cret")), numPartitions = 2)
      val end = stream.latestOffset(stream.initialOffset(), ReadLimit.allAvailable())
      assert(stream.window(U) == first)
      // a commit for a different server's uuid trims nothing
      stream.commit(GtidOffset(first.foldLeft(GtidSet.empty)(
        (s, r) => s.add("00000000-0000-0000-0000-000000000000", r.pos))))
      assert(stream.window(U) == first)
      stream.commit(end)
      assert(stream.window(U).isEmpty, "committed rows leave the replay window")
      // the binlog grows: the window now holds ONLY the uncommitted
      // rows — the long-lived-query memory bound — and the wire still
      // carries each new transaction exactly once
      server.archive = encodeArchive(feed)
      stream.latestOffset(end, ReadLimit.allAvailable())
      assert(stream.window(U) == rest, "window = the uncommitted rows only")
      assert(server.eventPacketsServed.get() == 2 + 4L * feed.length,
        "one FDE per connect + 4 events per tx, each tx served once")
    } finally server.stop()
  }

  test("inter-transaction events (trailing ROTATE) still cross the wire") {
    val feed = feedRows().take(6)
    val server = new LoopbackBinlogServer(
      "repl", MysqlAuth.storedHash("s3cret"),
      encodeArchive(feed, trailingRotate = true))
    try {
      val t = new SocketTransport("127.0.0.1", server.port, "repl", "s3cret")
      assert(t.fetch() == feed, "rows are unaffected by the rotate marker")
      assert(server.eventPacketsServed.get() == 1 + 4L * feed.length + 1,
        "FDE + 4 events per tx + the trailing ROTATE — not silently dropped")
      // with every transaction covered, a re-fetch returns no rows and
      // its wire carries only the ungated events: the FDE and the rotate
      assert(t.fetch() == Vector.empty)
      assert(server.eventPacketsServed.get() == 2 + 4L * feed.length + 2,
        "covered transactions skip; ungated events still serve")
    } finally server.stop()
  }

  test("a ≥ 16 MiB logical packet reassembles from continuation frames over TCP") {
    // ONE rows event crossing the packet-split threshold: 300 rows of
    // a 60 kB VARCHAR ≈ 18 MB of payload in a single event, which the
    // server must send as 0xffffff continuation frames and the client
    // must reassemble byte-exact before decode (CRC32 verifies it)
    val tsSec = 1700000000L
    val w = new BinlogWriter.Stream()
    w.gtid(U, 1L, tsSec)
      .tableMap(2L, "harness", "blobs",
        Seq(BinlogCodec.TYPE_LONGLONG, BinlogCodec.TYPE_VARCHAR), Seq(0, 65535), tsSec)
    val chunk = "x" * 60000
    val rows = (1 to 300).map(i => Seq[Option[Any]](Some(i.toLong), Some(chunk)))
    w.writeRows(2L, rows, tsSec)
    w.xid(1L, tsSec)
    val server = new LoopbackBinlogServer(
      "repl", MysqlAuth.storedHash("s3cret"), w.bytes)
    try {
      val t = new SocketTransport("127.0.0.1", server.port, "repl", "s3cret")
      val got = t.fetch()
      // a VARCHAR value column maps to 0.0 in the FeedRow contract;
      // pks and the tx position survive the split byte-exact
      assert(got.map(_.pk) == (1L to 300L).toVector)
      assert(got.forall(r => r.pos == 1L && r.op == "insert" && r.value == 0.0))
      assert(t.watermark.serialize == s"$U:1",
        "the split transaction commits exactly once")
    } finally server.stop()
  }

  /** One raw dump conversation with `flags`: the event packets served,
    * and whether the stream then ended with EOF (false: the server
    * held the connection open until the read timed out).
    */
  private def rawDump(port: Int, flags: Int): (Int, Boolean) = {
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(1500)
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = sock.getOutputStream
      def read(): Array[Byte] = BinlogWire.readLogicalPacket { n =>
        val buf = new Array[Byte](n)
        var got = 0
        while (got < n) {
          val r = in.read(buf, got, n - got)
          if (r < 0) throw new java.io.IOException("server closed")
          got += r
        }
        buf
      }._2
      def write(seq: Int, payload: Array[Byte]): Unit = {
        out.write(BinlogWire.framePackets(seq, payload)); out.flush()
      }
      val hello = MysqlAuth.parseHandshakeV10(read())
      write(1, MysqlAuth.encodeHandshakeResponse41("repl",
        MysqlAuth.scramble("s3cret", hello.salt)))
      assert(MysqlAuth.parseAuthResult(read()).isInstanceOf[MysqlAuth.AuthOk])
      write(0, BinlogWire.comBinlogDumpGtid(1001L, graft.model.GtidSet.empty, flags = flags))
      var events = 0
      var eof: Option[Boolean] = None
      while (eof.isEmpty) {
        try {
          val p = read()
          if ((p(0) & 0xff) == 0xfe) eof = Some(true) else events += 1
        } catch { case _: java.net.SocketTimeoutException => eof = Some(false) }
      }
      (events, eof.get)
    } finally sock.close()
  }

  test("the loopback holds a dump without BINLOG_DUMP_NON_BLOCK open, like a real master") {
    val feed = feedRows().take(5)
    val server = new LoopbackBinlogServer(
      "repl", MysqlAuth.storedHash("s3cret"), encodeArchive(feed))
    try {
      val events = 1 + 4 * feed.length // FDE + 4 events per transaction
      assert(rawDump(server.port, BinlogWire.BinlogThroughGtid) == ((events, false)),
        "a blocking dump serves every event, then waits for more: no EOF")
      assert(rawDump(server.port,
        BinlogWire.BinlogThroughGtid | BinlogWire.BinlogDumpNonBlock) == ((events, true)),
        "a non-blocking dump ends at the binlog tip with EOF")
    } finally server.stop()
  }

  test("SocketTransport asks for a non-blocking dump: a fetch ends at the tip, not at the read timeout") {
    val feed = feedRows().take(5)
    val server = new LoopbackBinlogServer(
      "repl", MysqlAuth.storedHash("s3cret"), encodeArchive(feed))
    try {
      // a blocking dump would hold the connection until this timeout
      // and fail the fetch with a TransportException
      val t = new SocketTransport("127.0.0.1", server.port, "repl", "s3cret",
        readTimeoutMs = 3000)
      val t0 = System.nanoTime()
      assert(t.fetch() == feed)
      assert(t.fetch() == Vector.empty, "a covered re-fetch ends at the tip too")
      assert(server.eventPacketsServed.get() == 2 + 4L * feed.length,
        "the covered re-fetch's wire carries only the FDE")
      assert((System.nanoTime() - t0) / 1000000 < 3000,
        "both fetches must end on EOF, well inside one read timeout")
    } finally server.stop()
  }

  test("wrong password: classified auth failure, server never learns the password") {
    val server = new LoopbackBinlogServer(
      "repl", MysqlAuth.storedHash("s3cret"), encodeArchive(feedRows().take(5)))
    try {
      val t = new SocketTransport("127.0.0.1", server.port, "repl", "wr0ng")
      val e = intercept[TransportException](t.fetch())
      assert(e.getMessage.contains("auth failed"))
      assert(e.getMessage.contains("1045"))
      // and a mute endpoint (accepts, never speaks) is a retryable
      // transport failure via the read timeout. We hold the port
      // ourselves: probing the STOPPED server's freed port is racy —
      // a parallel suite's loopback server can re-bind it in the gap
      // and answer the handshake
      server.stop()
      val mute = new java.net.ServerSocket(0)
      try {
        val dead = new SocketTransport("127.0.0.1", mute.getLocalPort, "repl",
          "s3cret", connectTimeoutMs = 500, readTimeoutMs = 500)
        intercept[TransportException](dead.fetch())
      } finally mute.close()
    } finally server.stop()
  }
}
