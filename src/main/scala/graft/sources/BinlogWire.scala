package graft.sources

import graft.model.{GtidRange, GtidSet}

/** The client half of the binlog WIRE protocol, as far as bytes go:
  * MySQL packet framing, the binary GTID-set encoding, and the
  * `COM_BINLOG_DUMP_GTID` request the reference's syncer issues on
  * (re)connect (`StartSyncGTID`,
  * `/root/reference/internal/cannal/incremental.go:149` — the
  * go-mysql client builds exactly this packet from the watermark
  * set). With [[BinlogDecoder]] covering the event stream coming
  * back, the only piece of the reference with no executable
  * counterpart left in this repo is the TCP connection + auth
  * exchange itself.
  *
  * Layout facts are the public MySQL client/server protocol:
  *
  *   - packets frame as `[payload-length u3][sequence-id u1][payload]`,
  *     little-endian;
  *   - `COM_BINLOG_DUMP_GTID` payload: command byte 0x1e, flags u2
  *     (0x04 = BINLOG_THROUGH_GTID; 0x01 = BINLOG_DUMP_NON_BLOCK, without
  *     which the server holds the connection open for new events
  *     instead of ending the stream with EOF), server-id u4, filename-length
  *     u4 + filename, binlog-pos u8, gtid-data-size u4, then the
  *     GTID set in binary form;
  *   - binary GTID set: n_sids u8; per sid 16 uuid bytes,
  *     n_intervals u8, then per interval start u8 (inclusive) and
  *     STOP u8 (EXCLUSIVE — the wire carries [start, stop), while
  *     [[GtidSet]] ranges are inclusive; the +1/−1 at this boundary
  *     is a classic resume-off-by-one source, pinned by spec).
  */
object BinlogWire {

  val ComBinlogDumpGtid = 0x1e
  val BinlogThroughGtid = 0x04
  val BinlogDumpNonBlock = 0x01

  private def w2(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
    b.write(v & 0xff); b.write((v >> 8) & 0xff)
  }
  private def w4(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
    w2(b, (v & 0xffff).toInt); w2(b, ((v >> 16) & 0xffff).toInt)
  }
  private def w8(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
    w4(b, v & 0xffffffffL); w4(b, (v >> 32) & 0xffffffffL)
  }

  /** Frame one payload as a MySQL packet. Payloads ≥ 2^24−1 require
    * continuation packets; a dump REQUEST never approaches that, so
    * oversized payloads are refused rather than silently truncated.
    */
  def framePacket(seq: Int, payload: Array[Byte]): Array[Byte] = {
    require(payload.length < 0xffffff, s"payload ${payload.length} needs continuation packets")
    val b = new java.io.ByteArrayOutputStream(4 + payload.length)
    b.write(payload.length & 0xff)
    b.write((payload.length >> 8) & 0xff)
    b.write((payload.length >> 16) & 0xff)
    b.write(seq & 0xff)
    b.write(payload, 0, payload.length)
    b.toByteArray
  }

  /** (sequence-id, payload) of the packet starting at `off`. */
  def unframePacket(bytes: Array[Byte], off: Int = 0): (Int, Array[Byte]) = {
    val r = new Cursor(bytes, off, bytes.length)
    val len = r.u3()
    val seq = r.u1()
    (seq, r.bytes(len))
  }

  /** The packet-split threshold: a declared payload length of
    * 2^24−1 means "a continuation frame follows".
    */
  val MaxFrame: Int = 0xffffff

  /** Frame a payload of ANY size per the public packet-split
    * convention: every full [[MaxFrame]]-byte frame announces a
    * continuation, and the final frame carries the remainder —
    * including an EMPTY trailing frame when the payload length is an
    * exact multiple of [[MaxFrame]], which is how the receiver knows
    * the logical packet ended. Sequence ids increment per frame.
    * Payloads under the threshold produce bytes identical to
    * [[framePacket]].
    */
  def framePackets(seq: Int, payload: Array[Byte]): Array[Byte] = {
    if (payload.length < MaxFrame) framePacket(seq, payload)
    else {
      val frames = payload.length / MaxFrame + 1
      val b = new java.io.ByteArrayOutputStream(payload.length + 4 * frames)
      var off = 0
      var s = seq
      while (payload.length - off >= MaxFrame) {
        b.write(0xff); b.write(0xff); b.write(0xff); b.write(s & 0xff)
        b.write(payload, off, MaxFrame)
        off += MaxFrame
        s += 1
      }
      val rem = payload.length - off
      b.write(rem & 0xff); b.write((rem >> 8) & 0xff); b.write((rem >> 16) & 0xff)
      b.write(s & 0xff)
      b.write(payload, off, rem)
      b.toByteArray
    }
  }

  /** One LOGICAL packet off a byte stream: reads frames via `fully`
    * (the caller's read-exactly-n; it throws the caller's transport
    * error taxonomy on short reads), concatenating while the declared
    * length is [[MaxFrame]] — the split convention [[framePackets]]
    * produces and a real server uses for events ≥ 16 MiB. Returns
    * (last frame's sequence id, reassembled payload).
    */
  def readLogicalPacket(fully: Int => Array[Byte]): (Int, Array[Byte]) = {
    val hdr = fully(4)
    var len = (hdr(0) & 0xff) | ((hdr(1) & 0xff) << 8) | ((hdr(2) & 0xff) << 16)
    var seq = hdr(3) & 0xff
    val first = fully(len)
    if (len < MaxFrame) (seq, first)
    else {
      val b = new java.io.ByteArrayOutputStream(len * 2)
      b.write(first, 0, first.length)
      while (len == MaxFrame) {
        val h = fully(4)
        len = (h(0) & 0xff) | ((h(1) & 0xff) << 8) | ((h(2) & 0xff) << 16)
        seq = h(3) & 0xff
        if (len > 0) { val p = fully(len); b.write(p, 0, p.length) }
      }
      (seq, b.toByteArray)
    }
  }

  /** The binary GTID-set form carried inside the dump request.
    * Deterministic: sids sort lexicographically, intervals are
    * already canonical (sorted, disjoint) in [[GtidSet]].
    */
  def encodeGtidSet(set: GtidSet): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    val sids = set.intervals.toSeq.sortBy(_._1)
    w8(b, sids.length.toLong)
    sids.foreach { case (uuid, ranges) =>
      val sid = BinlogCodec.uuidToBytes(uuid)
      b.write(sid, 0, sid.length)
      w8(b, ranges.length.toLong)
      ranges.foreach { r =>
        w8(b, r.start)
        w8(b, r.end + 1) // wire stop is EXCLUSIVE
      }
    }
    b.toByteArray
  }

  def decodeGtidSet(bytes: Array[Byte]): GtidSet = {
    val r = new Cursor(bytes)
    val set = decodeGtidSetAt(r)
    // a count field corrupted LOW would leave unread bytes and decode
    // to a silently-smaller set — the resume bug this encoding exists
    // to prevent; all input must be consumed
    if (r.remaining != 0)
      throw new CorruptStreamException(
        s"${r.remaining} trailing bytes after GTID set — count field corrupt")
    set
  }

  private def decodeGtidSetAt(r: Cursor): GtidSet = {
    val nSids = r.i8()
    // negative = sign bit set = corrupt; a huge count fails on the
    // first underrun read rather than allocating
    if (nSids < 0)
      throw new CorruptStreamException(s"corrupt sid count $nSids")
    (0L until nSids).foldLeft(GtidSet.empty) { (acc, _) =>
      val uuid = BinlogCodec.bytesToUuid(r.bytes(16))
      val nIv = r.i8()
      if (nIv < 0)
        throw new CorruptStreamException(s"corrupt interval count $nIv")
      (0L until nIv).foldLeft(acc) { (a, _) =>
        val start = r.i8()
        val stop = r.i8()
        if (stop <= start)
          throw new CorruptStreamException(s"empty wire interval [$start, $stop)")
        a.addRange(uuid, GtidRange(start, stop - 1))
      }
    }
  }

  /** The `COM_BINLOG_DUMP_GTID` payload for resuming the tail at
    * `set` — what the reference's `StartSyncGTID(watermark)` puts on
    * the wire. Empty filename + pos 4 = "everything above the GTID
    * set", the resume form the watermark protocol uses.
    */
  def comBinlogDumpGtid(
      serverId: Long,
      set: GtidSet,
      flags: Int = BinlogThroughGtid,
      filename: String = "",
      pos: Long = 4L
  ): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write(ComBinlogDumpGtid)
    w2(b, flags)
    w4(b, serverId)
    val fn = filename.getBytes("UTF-8")
    w4(b, fn.length.toLong)
    b.write(fn, 0, fn.length)
    w8(b, pos)
    val data = encodeGtidSet(set)
    w4(b, data.length.toLong)
    b.write(data, 0, data.length)
    b.toByteArray
  }

  /** Parsed dump request — the roundtrip check for the encoder. */
  final case class DumpRequest(
      flags: Int, serverId: Long, filename: String, pos: Long, set: GtidSet)

  def parseComBinlogDumpGtid(payload: Array[Byte]): DumpRequest = {
    val r = new Cursor(payload)
    val cmd = r.u1()
    if (cmd != ComBinlogDumpGtid)
      throw new CorruptStreamException(f"not a COM_BINLOG_DUMP_GTID payload: 0x$cmd%02x")
    val flags = r.u2()
    val serverId = r.u4()
    // u4().toInt may go negative on a corrupt length — Cursor.need
    // rejects negative reads as CorruptStreamException, classified
    val fn = r.string(r.u4().toInt)
    val pos = r.i8()
    val data = r.bytes(r.u4().toInt)
    DumpRequest(flags, serverId, fn, pos, decodeGtidSet(data))
  }
}

/** The MySQL connection-phase AUTH exchange as a byte codec — the
  * last slice of the reference's connection bootstrap
  * (`/root/reference/internal/syncdb/data_source.go:87-94` opens the
  * connection; `internal/cannal/incremental.go:149` re-authenticates
  * on every reconnect before issuing the dump request). Everything
  * here is the public client/server protocol:
  *
  *   - the server greets with `HandshakeV10`: protocol version 0x0a,
  *     NUL-terminated server version, connection id u4, then the
  *     20-byte auth-plugin-data ("salt"/scramble seed) split into an
  *     8-byte part, a filler, capability/charset/status words, and a
  *     13-byte part (12 salt bytes + trailing NUL);
  *   - the client answers with `HandshakeResponse41`: capabilities
  *     u4, max-packet u4, charset u1, 23 zero bytes, NUL-terminated
  *     username, length-prefixed auth token, optional database, and
  *     the auth plugin name;
  *   - for `mysql_native_password` the token is
  *     `SHA1(pw) XOR SHA1(salt ++ SHA1(SHA1(pw)))` — the server
  *     stores only `SHA1(SHA1(pw))`, recovers `SHA1(pw)` by XOR, and
  *     accepts iff it hashes back to the stored value;
  *   - the server closes the phase with an OK (0x00) or ERR (0xff)
  *     packet.
  */
object MysqlAuth {

  // capability flags (public protocol constants, subset used here)
  val ClientLongPassword = 0x00000001L
  val ClientConnectWithDb = 0x00000008L
  val ClientProtocol41 = 0x00000200L
  val ClientSecureConnection = 0x00008000L
  val ClientPluginAuth = 0x00080000L
  val NativePassword = "mysql_native_password"

  /** The client capabilities the reference's driver would request for
    * a plain (non-TLS, no-db) replica connection.
    */
  val DefaultClientCaps: Long =
    ClientLongPassword | ClientProtocol41 | ClientSecureConnection | ClientPluginAuth

  private def w2(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
    b.write(v & 0xff); b.write((v >> 8) & 0xff)
  }
  private def w4(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
    w2(b, (v & 0xffff).toInt); w2(b, ((v >> 16) & 0xffff).toInt)
  }
  private def nulString(b: java.io.ByteArrayOutputStream, s: String): Unit = {
    val x = s.getBytes("UTF-8"); b.write(x, 0, x.length); b.write(0)
  }
  private def readNulString(r: Cursor): String = {
    val b = new java.io.ByteArrayOutputStream()
    var c = r.u1()
    while (c != 0) { b.write(c); c = r.u1() }
    new String(b.toByteArray, "UTF-8")
  }

  // ---- scramble ----------------------------------------------------------

  private def sha1(parts: Array[Byte]*): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    parts.foreach(md.update)
    md.digest()
  }

  private def xor(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    a.indices.map(i => (a(i) ^ b(i)).toByte).toArray

  /** What the server persists in `mysql.user` for
    * `mysql_native_password`: `SHA1(SHA1(password))`.
    */
  def storedHash(password: String): Array[Byte] =
    sha1(sha1(password.getBytes("UTF-8")))

  /** The client's auth token:
    * `SHA1(pw) XOR SHA1(salt ++ SHA1(SHA1(pw)))`. An empty password
    * sends an empty token (the protocol's special case).
    */
  def scramble(password: String, salt: Array[Byte]): Array[Byte] = {
    require(salt.length == 20, s"native-password salt is 20 bytes, got ${salt.length}")
    if (password.isEmpty) Array.emptyByteArray
    else {
      val p1 = sha1(password.getBytes("UTF-8"))
      xor(p1, sha1(salt, sha1(p1)))
    }
  }

  /** Server-side acceptance: recover `SHA1(pw)` from the token by
    * XOR with `SHA1(salt ++ stored)`, accept iff it hashes back to
    * `stored`. Never sees the password — exactly why the scheme
    * round-trips through two hashes.
    */
  def verifyScramble(salt: Array[Byte], token: Array[Byte], stored: Array[Byte]): Boolean =
    if (token.isEmpty) false // empty-password accounts not modeled
    else if (token.length != 20 || stored.length != 20) false
    else {
      val recovered = xor(token, sha1(salt, stored))
      java.security.MessageDigest.isEqual(sha1(recovered), stored)
    }

  // ---- HandshakeV10 (server greeting) ------------------------------------

  final case class HandshakeV10(
      serverVersion: String, connectionId: Long, salt: Array[Byte],
      capabilities: Long, charset: Int, statusFlags: Int, authPlugin: String)

  def encodeHandshakeV10(
      serverVersion: String,
      connectionId: Long,
      salt: Array[Byte],
      capabilities: Long = DefaultClientCaps,
      charset: Int = 255,
      statusFlags: Int = 2 // SERVER_STATUS_AUTOCOMMIT
  ): Array[Byte] = {
    require(salt.length == 20, "salt is 20 bytes")
    val b = new java.io.ByteArrayOutputStream()
    b.write(0x0a) // protocol version
    nulString(b, serverVersion)
    w4(b, connectionId)
    b.write(salt, 0, 8) // auth-plugin-data part 1
    b.write(0) // filler
    w2(b, (capabilities & 0xffff).toInt) // capability flags, lower half
    b.write(charset & 0xff)
    w2(b, statusFlags)
    w2(b, ((capabilities >> 16) & 0xffff).toInt) // capability flags, upper half
    b.write(if ((capabilities & ClientPluginAuth) != 0) 21 else 0) // auth-data length
    (0 until 10).foreach(_ => b.write(0)) // reserved
    if ((capabilities & ClientSecureConnection) != 0) {
      b.write(salt, 8, 12) // auth-plugin-data part 2
      b.write(0) // its trailing NUL
    }
    if ((capabilities & ClientPluginAuth) != 0) nulString(b, NativePassword)
    b.toByteArray
  }

  def parseHandshakeV10(payload: Array[Byte]): HandshakeV10 = {
    val r = new Cursor(payload)
    val proto = r.u1()
    if (proto != 0x0a)
      throw new CorruptStreamException(f"unsupported handshake protocol 0x$proto%02x")
    val version = readNulString(r)
    val connId = r.u4()
    val salt1 = r.bytes(8)
    r.skip(1) // filler
    val capsLow = r.u2()
    val charset = r.u1()
    val status = r.u2()
    val capsHigh = r.u2()
    val caps = capsLow.toLong | (capsHigh.toLong << 16)
    val authLen = r.u1()
    r.skip(10) // reserved
    val salt2 =
      if ((caps & ClientSecureConnection) != 0) {
        // part 2 is max(13, authLen-8) bytes; the last is a NUL that
        // is NOT part of the scramble seed
        val n = math.max(13, authLen - 8)
        val raw = r.bytes(n)
        java.util.Arrays.copyOfRange(raw, 0, n - 1)
      } else Array.emptyByteArray
    val plugin =
      if ((caps & ClientPluginAuth) != 0) readNulString(r) else ""
    HandshakeV10(version, connId, salt1 ++ salt2, caps, charset, status, plugin)
  }

  // ---- HandshakeResponse41 (client reply) --------------------------------

  final case class HandshakeResponse41(
      capabilities: Long, maxPacket: Long, charset: Int, username: String,
      authResponse: Array[Byte], database: Option[String], authPlugin: String)

  def encodeHandshakeResponse41(
      username: String,
      authResponse: Array[Byte],
      capabilities: Long = DefaultClientCaps,
      maxPacket: Long = 1L << 24,
      charset: Int = 255,
      database: Option[String] = None
  ): Array[Byte] = {
    val caps = capabilities | (if (database.isDefined) ClientConnectWithDb else 0L)
    val b = new java.io.ByteArrayOutputStream()
    w4(b, caps)
    w4(b, maxPacket)
    b.write(charset & 0xff)
    (0 until 23).foreach(_ => b.write(0)) // filler
    nulString(b, username)
    require(authResponse.length < 256, "auth token is length-prefixed u1")
    b.write(authResponse.length)
    b.write(authResponse, 0, authResponse.length)
    database.foreach(nulString(b, _))
    if ((caps & ClientPluginAuth) != 0) nulString(b, NativePassword)
    b.toByteArray
  }

  def parseHandshakeResponse41(payload: Array[Byte]): HandshakeResponse41 = {
    val r = new Cursor(payload)
    val caps = r.u4()
    if ((caps & ClientProtocol41) == 0)
      throw new CorruptStreamException("client did not set CLIENT_PROTOCOL_41")
    val maxPacket = r.u4()
    val charset = r.u1()
    r.skip(23)
    val user = readNulString(r)
    val token = r.bytes(r.u1())
    val db =
      if ((caps & ClientConnectWithDb) != 0) Some(readNulString(r)) else None
    val plugin =
      if ((caps & ClientPluginAuth) != 0) readNulString(r) else ""
    HandshakeResponse41(caps, maxPacket, charset, user, token, db, plugin)
  }

  // ---- OK / ERR (auth outcome) -------------------------------------------

  sealed trait AuthResult
  final case class AuthOk(statusFlags: Int) extends AuthResult
  final case class AuthErr(code: Int, message: String) extends AuthResult

  def encodeOk(statusFlags: Int = 2): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write(0x00) // OK header
    b.write(0) // affected rows (lenenc 0)
    b.write(0) // last insert id (lenenc 0)
    w2(b, statusFlags)
    w2(b, 0) // warnings
    b.toByteArray
  }

  def encodeErr(code: Int, message: String): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write(0xff) // ERR header
    w2(b, code)
    b.write('#')
    val st = "28000".getBytes("UTF-8") // access denied sql-state
    b.write(st, 0, st.length)
    val m = message.getBytes("UTF-8")
    b.write(m, 0, m.length)
    b.toByteArray
  }

  def parseAuthResult(payload: Array[Byte]): AuthResult = {
    val r = new Cursor(payload)
    r.u1() match {
      case 0x00 =>
        r.packed(); r.packed() // affected rows, last insert id
        AuthOk(r.u2())
      case 0xff =>
        val code = r.u2()
        r.skip(6) // '#' + 5-byte sql-state
        AuthErr(code, r.string(r.remaining))
      case h =>
        throw new CorruptStreamException(f"not an OK/ERR packet: header 0x$h%02x")
    }
  }
}
