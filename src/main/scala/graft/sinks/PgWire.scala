package graft.sinks

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, InputStream}
import java.net.InetSocketAddress
import java.nio.channels.{Channels, SocketChannel}
import java.nio.charset.StandardCharsets.UTF_8

/** Native PostgreSQL frontend/backend protocol (v3) client — the
  * transport under [[PgCopySink]]'s per-partition binary COPY, with no
  * driver-jar dependency (r11 verdict item 1: the reflective pgjdbc
  * CopyManager leg could never execute offline; this speaks the same
  * server protocol BinaryCopyInWriter drives in the reference,
  * db.rs:167-177, directly over the socket).
  *
  * Scope: exactly what a loader needs — startup + auth (trust,
  * cleartext password, MD5, SCRAM-SHA-256 per RFC 5802/7677), simple
  * queries (text results), and `COPY ... FROM STDIN` streaming. All
  * message framing follows the public PostgreSQL "Frontend/Backend
  * Protocol" chapter. Unix-domain sockets (the `socketDir` URL param)
  * and TCP are both supported; TLS is not (in-datacenter loaders —
  * fail loudly rather than pretend).
  *
  * Thread-safety: a connection serves one thread at a time. Each COPY
  * stream of a partition opens its own (see [[PgCopySink]]); a new
  * backend costs a few ms, cheap next to the COPY it carries.
  */
object PgWire {

  /** Connection coordinates. `socketDir` selects a unix-domain socket
    * (`<dir>/.s.PGSQL.<port>`) over TCP — the graft-specific URL
    * parameter; everything else mirrors the standard
    * `jdbc:postgresql://host:port/db?user=…&password=…` shape.
    * Parameter keys and values are %-decoded (pgjdbc's URLCoder
    * convention), so a password containing `&`/`=`/`%` is written
    * `%26`/`%3D`/`%25`. `connectTimeout`/`socketTimeout` params are in
    * SECONDS (pgjdbc convention); 0 disables. */
  final case class Target(host: String, port: Int, socketDir: Option[String],
      db: String, user: String, password: Option[String],
      connectTimeoutMs: Int = 10000, readTimeoutMs: Int = 120000)
    extends Serializable

  def parse(url: String): Target = {
    require(url.startsWith("jdbc:postgresql://"),
      s"not a postgres url (expected jdbc:postgresql://…): $url")
    val rest = url.stripPrefix("jdbc:postgresql://")
    def dec(s: String): String =
      try java.net.URLDecoder.decode(s, UTF_8)
      catch {
        case e: IllegalArgumentException => throw new IllegalArgumentException(
          s"malformed %-escape in url parameter '$s' (write a literal % as %25)", e)
      }
    val (hostPortDb, params) = rest.indexOf('?') match {
      case -1 => (rest, Map.empty[String, String])
      case i => (rest.take(i),
        rest.drop(i + 1).split('&').filter(_.nonEmpty).map { kv =>
          val j = kv.indexOf('=')
          if (j < 0) dec(kv) -> "" else dec(kv.take(j)) -> dec(kv.drop(j + 1))
        }.toMap)
    }
    val slash = hostPortDb.indexOf('/')
    require(slash >= 0, s"postgres url must name a database: $url")
    val hostPort = hostPortDb.take(slash)
    val db = hostPortDb.drop(slash + 1)
    val (host, port) = hostPort.indexOf(':') match {
      case -1 => (hostPort, 5432)
      case i => (hostPort.take(i), hostPort.drop(i + 1).toInt)
    }
    def timeoutMs(key: String, defaultMs: Int): Int = params.get(key) match {
      case None => defaultMs
      case Some(v) =>
        val s = v.toInt
        require(s >= 0, s"$key must be >= 0 seconds, got $v")
        if (s == 0) 0 else s * 1000
    }
    Target(host, port, params.get("socketDir"), db,
      params.getOrElse("user", sys.props.getOrElse("user.name", "postgres")),
      params.get("password"),
      connectTimeoutMs = timeoutMs("connectTimeout", 10000),
      readTimeoutMs = timeoutMs("socketTimeout", 120000))
  }

  def connect(t: Target): PgWireConn = {
    val ch = t.socketDir match {
      case Some(dir) => SocketChannel.open(
        java.net.UnixDomainSocketAddress.of(s"$dir/.s.PGSQL.${t.port}"))
      case None =>
        // bounded connect: a black-holed host must surface as a task
        // failure, not a parked-forever executor thread (the JDK 17
        // socket adaptor implements the timeout for blocking channels)
        val c = SocketChannel.open()
        try c.socket().connect(new InetSocketAddress(t.host, t.port),
          math.max(0, t.connectTimeoutMs))
        catch { case e: Throwable =>
          try c.close() catch { case _: Throwable => () }; throw e }
        c
    }
    val c = new PgWireConn(ch, t)
    try { c.startup(); c }
    catch { case e: Throwable => try ch.close() catch { case _: Throwable => () }; throw e }
  }

  /** Shared daemon timer arming per-I/O deadlines on all connections —
    * a stalled/half-dead server must fail the Spark task, not park a
    * partition forever inside readFully (blocking NIO channels honor
    * no soTimeout, so the watchdog closes the channel instead). */
  private[sinks] val watchdog = {
    // NOT java.util.Timer: a cancelled TimerTask lingers in the timer
    // heap until its deadline (Timer only drops it at queue head), so
    // one-task-per-read on the COPY hot path would retain hundreds of
    // thousands of dead tasks per GB (review r13). The scheduled pool
    // unlinks on cancel.
    val ex = new java.util.concurrent.ScheduledThreadPoolExecutor(1,
      (r: Runnable) => {
        val th = new Thread(r, "pgwire-watchdog"); th.setDaemon(true); th
      })
    ex.setRemoveOnCancelPolicy(true)
    ex
  }

  /** Server-reported error, with the SQLSTATE so callers can branch. */
  final class PgServerException(val sqlState: String, message: String)
    extends RuntimeException(message)

  /** SCRAM-SHA-256 client computation (RFC 5802 mechanics, RFC 7677
    * hash; golden-tested against RFC 7677 §3's example exchange in
    * PgCopySpec). Pure — the wire loop feeds it strings and sends what
    * it returns. Password normalization: ASCII passthrough (SASLprep
    * is a no-op for ASCII; non-ASCII passwords are rejected loudly
    * rather than mis-normalized). */
  private[graft] object Scram {
    private def hmac(key: Array[Byte], msg: String): Array[Byte] = {
      val m = javax.crypto.Mac.getInstance("HmacSHA256")
      m.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
      m.doFinal(msg.getBytes(UTF_8))
    }
    private def sha256(b: Array[Byte]): Array[Byte] =
      java.security.MessageDigest.getInstance("SHA-256").digest(b)
    private def b64(b: Array[Byte]): String =
      java.util.Base64.getEncoder.encodeToString(b)

    def saltedPassword(password: String, salt: Array[Byte], iters: Int): Array[Byte] = {
      require(password.forall(_ < 128),
        "non-ASCII SCRAM password needs SASLprep, which this client does not implement")
      val spec = new javax.crypto.spec.PBEKeySpec(
        password.toCharArray, salt, iters, 256)
      javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
        .generateSecret(spec).getEncoded
    }

    /** Given the client-first-bare we sent, the server-first-message we
      * received, and the gs2 header, produce the client-final-message
      * to send and the base64 ServerSignature to verify against the
      * server's `v=`. */
    def clientFinal(password: String, clientFirstBare: String,
        serverFirst: String, gs2: String): (String, String) = {
      val attrs = serverFirst.split(',').map(a => a.take(1) -> a.drop(2)).toMap
      val nonce = attrs.getOrElse("r",
        throw new IllegalStateException(s"server-first lacks r=: $serverFirst"))
      val clientNonce = clientFirstBare.split(',').collectFirst {
        case a if a.startsWith("r=") => a.drop(2) }.get
      require(nonce.startsWith(clientNonce),
        "server nonce does not extend the client nonce (MITM or broken server)")
      val salt = java.util.Base64.getDecoder.decode(attrs("s"))
      val iters = attrs("i").toInt
      val salted = saltedPassword(password, salt, iters)
      val clientKey = hmac(salted, "Client Key")
      val storedKey = sha256(clientKey)
      val withoutProof = s"c=${b64(gs2.getBytes(UTF_8))},r=$nonce"
      val authMessage = s"$clientFirstBare,$serverFirst,$withoutProof"
      val clientSig = hmac(storedKey, authMessage)
      val proof = clientKey.zip(clientSig).map { case (a, b) => (a ^ b).toByte }
      val serverSig = b64(hmac(hmac(salted, "Server Key"), authMessage))
      (s"$withoutProof,p=${b64(proof)}", serverSig)
    }
  }
}

/** One protocol-v3 session. Created via [[PgWire.connect]] (which runs
  * startup + auth); callers use [[exec]], [[query]], [[copyIn]], then
  * [[close]]. */
final class PgWireConn private[sinks] (ch: SocketChannel, t: PgWire.Target)
    extends AutoCloseable {
  import PgWire.PgServerException

  private val in = new DataInputStream(
    new BufferedInputStream(Channels.newInputStream(ch), 1 << 16))
  private val out = new DataOutputStream(
    new BufferedOutputStream(Channels.newOutputStream(ch), 1 << 16))

  // ---- framing ----------------------------------------------------------

  private def send(tag: Byte, body: Array[Byte]): Unit = {
    out.writeByte(tag)
    out.writeInt(body.length + 4)
    out.write(body)
  }

  private def cstr(parts: String*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    parts.foreach { p => bos.write(p.getBytes(UTF_8)); bos.write(0) }
    bos.toByteArray
  }

  private type Msg = (Char, Array[Byte])

  /** Arm the shared watchdog for the duration of one blocking I/O op:
    * if the deadline fires the channel is closed, converting the park
    * into an IOException this wrapper re-labels as a timeout. 0
    * disables (socketTimeout=0). The hit flag is PER CALL (an
    * AtomicBoolean local to the arm), not connection state — a sticky
    * field would mislabel every later IOException on this connection
    * as a timeout (review r13). A deadline that fires as `f` succeeds
    * still closed the channel, so the success is surfaced as a loud
    * dead-connection error instead of returning a silently unusable
    * client. */
  private def withDeadline[A](f: => A): A = {
    if (t.readTimeoutMs <= 0) f
    else {
      val hit = new java.util.concurrent.atomic.AtomicBoolean(false)
      val task = PgWire.watchdog.schedule(new Runnable {
        def run(): Unit = {
          hit.set(true)
          try ch.close() catch { case _: Throwable => () }
        }
      }, t.readTimeoutMs.toLong, java.util.concurrent.TimeUnit.MILLISECONDS)
      try {
        val a = f
        if (!task.cancel(false) && hit.get)
          throw new java.io.IOException(
            s"deadline fired (${t.readTimeoutMs} ms) during a read that " +
              "then completed — connection closed by the watchdog")
        a
      } catch {
        case e: java.io.IOException if hit.get =>
          throw new java.io.IOException(
            s"server i/o timed out after ${t.readTimeoutMs} ms " +
              "(stalled or half-dead server); connection closed", e)
      } finally { task.cancel(false); () }
    }
  }

  private def readMsg(): Msg = withDeadline {
    val tag = in.readByte().toChar
    val len = in.readInt()
    require(len >= 4 && len < (1 << 30), s"implausible message length $len")
    val body = new Array[Byte](len - 4)
    in.readFully(body)
    (tag, body)
  }

  private def parseError(body: Array[Byte]): PgServerException = {
    var i = 0
    var state = "XX000"; var msg = "unknown server error"; var sev = "ERROR"
    while (i < body.length && body(i) != 0) {
      val code = body(i).toChar
      // a truncated field (no NUL — non-conformant server) must not
      // crash the error path itself: take the remainder as the value
      val end0 = body.indexOf(0.toByte, i + 1)
      val end = if (end0 < 0) body.length else end0
      val v = new String(body, i + 1, end - i - 1, UTF_8)
      code match {
        case 'C' => state = v
        case 'M' => msg = v
        case 'S' => sev = v
        case _ => ()
      }
      i = end + 1
    }
    new PgServerException(state, s"$sev $state: $msg")
  }

  /** One simple-protocol reply: the last RowDescription's column names,
    * the DataRows as text (null stays null) and the last CommandComplete
    * tag. */
  private final class Reply(val cols: Seq[String], val rows: Seq[Array[String]], val tag: String)

  /** Read to ReadyForQuery. The first error (`first`, else the first
    * ErrorResponse) is thrown AFTER the sync point so the connection
    * stays usable; a CopyIn/CopyBoth response is refused; housekeeping
    * tags are skipped. */
  private def reply(first: PgServerException = null): Reply = {
    var cols: Seq[String] = Nil
    val rows = Seq.newBuilder[Array[String]]
    var tag: String = null
    var err = first
    var m = readMsg()
    while (m._1 != 'Z') {
      m._1 match {
        case 'T' =>
          val d = new DataInputStream(new java.io.ByteArrayInputStream(m._2))
          val n = d.readShort()
          cols = (0 until n).map { _ =>
            // name is a UTF-8 cstring — collect bytes, decode once
            // (per-byte toChar would mangle multibyte identifiers)
            val bos = new ByteArrayOutputStream()
            var b = d.readByte()
            while (b != 0) { bos.write(b.toInt); b = d.readByte() }
            d.skipBytes(18) // table oid, attnum, type oid, typlen, typmod, format
            new String(bos.toByteArray, UTF_8)
          }
        case 'D' =>
          val d = new DataInputStream(new java.io.ByteArrayInputStream(m._2))
          val n = d.readShort()
          rows += Array.tabulate(n) { _ =>
            val len = d.readInt()
            if (len == -1) null
            else { val b = new Array[Byte](len); d.readFully(b); new String(b, UTF_8) }
          }
        case 'C' =>
          val z = m._2.indexOf(0.toByte)
          tag = new String(m._2, 0, if (z < 0) m._2.length else z, UTF_8)
        case 'E' => if (err == null) err = parseError(m._2)
        case 'G' | 'W' =>
          // a caller ran a COPY FROM/both statement through exec/query:
          // the server now waits for CopyData and reading on would
          // deadlock — refuse the transfer and keep draining to the
          // sync point (the server answers CopyFail with ErrorResponse)
          send('f', cstr("not a copy entry point")); out.flush()
        case _ => () // I/N/S/A/K
      }
      m = readMsg()
    }
    if (err != null) throw err
    new Reply(cols, rows.result(), tag)
  }

  // ---- startup & auth ----------------------------------------------------

  private[sinks] def startup(): Unit = {
    val body = new ByteArrayOutputStream()
    val d = new DataOutputStream(body)
    d.writeInt(196608) // protocol 3.0
    d.write(cstr("user", t.user, "database", t.db, "client_encoding", "UTF8"))
    d.write(0)
    out.writeInt(body.size + 4)
    body.writeTo(out)
    out.flush()
    authLoop()
    reply() // ParameterStatus / BackendKeyData up to ReadyForQuery
  }

  private def needPassword(): String = t.password.getOrElse(
    throw new IllegalStateException(
      s"server demands a password for user '${t.user}' but the url has none"))

  private def authLoop(): Unit = {
    var done = false
    while (!done) {
      val m = readMsg()
      m._1 match {
        case 'E' => throw parseError(m._2)
        case 'R' =>
          val d = new DataInputStream(new java.io.ByteArrayInputStream(m._2))
          d.readInt() match {
            case 0 => done = true // AuthenticationOk
            case 3 => // cleartext
              send('p', cstr(needPassword())); out.flush()
            case 5 => // md5: md5(md5(password + user) + salt), hex, "md5"-prefixed
              val salt = new Array[Byte](4); d.readFully(salt)
              def md5hex(b: Array[Byte]): String =
                java.security.MessageDigest.getInstance("MD5").digest(b)
                  .map("%02x".format(_)).mkString
              val inner = md5hex((needPassword() + t.user).getBytes(UTF_8))
              val outer = md5hex(inner.getBytes(UTF_8) ++ salt)
              send('p', cstr(s"md5$outer")); out.flush()
            case 10 =>
              // the handshake consumes its own AuthenticationOk
              scramHandshake(m._2.drop(4)); done = true
            case other => throw new IllegalStateException(
              s"unsupported authentication request code $other " +
                "(client supports trust/cleartext/md5/scram-sha-256)")
          }
        case other => throw new IllegalStateException(
          s"unexpected message '$other' during authentication")
      }
    }
  }

  private def scramHandshake(mechList: Array[Byte]): Unit = {
    val mechs = new String(mechList, UTF_8).split('\u0000').filter(_.nonEmpty)
    require(mechs.contains("SCRAM-SHA-256"),
      s"server offers none of this client's SASL mechanisms: ${mechs.mkString(",")}")
    val nonceBytes = new Array[Byte](18)
    new java.security.SecureRandom().nextBytes(nonceBytes)
    val clientNonce = java.util.Base64.getEncoder.encodeToString(nonceBytes)
    val gs2 = "n,," // no channel binding over plain sockets
    val clientFirstBare = s"n=,r=$clientNonce" // PG takes the user from startup
    val initial = (gs2 + clientFirstBare).getBytes(UTF_8)
    val body = new ByteArrayOutputStream()
    val d = new DataOutputStream(body)
    d.write(cstr("SCRAM-SHA-256"))
    d.writeInt(initial.length)
    d.write(initial)
    send('p', body.toByteArray); out.flush()

    def expectR(code: Int): Array[Byte] = {
      val m = readMsg()
      if (m._1 == 'E') throw parseError(m._2)
      require(m._1 == 'R', s"expected auth continuation, got '${m._1}'")
      val got = java.nio.ByteBuffer.wrap(m._2, 0, 4).getInt
      require(got == code, s"expected SASL code $code, got $got")
      m._2.drop(4)
    }
    val serverFirst = new String(expectR(11), UTF_8)
    val (clientFinal, expectSig) =
      PgWire.Scram.clientFinal(needPassword(), clientFirstBare, serverFirst, gs2)
    send('p', clientFinal.getBytes(UTF_8)); out.flush()
    val finalMsg = new String(expectR(12), UTF_8)
    val v = finalMsg.split(',').collectFirst {
      case a if a.startsWith("v=") => a.drop(2) }
    require(v.contains(expectSig),
      "server signature mismatch — the server does not know the password " +
        "(MITM or wrong credentials store)")
    // AuthenticationOk follows
    expectR(0)
    ()
  }

  // ---- public surface ----------------------------------------------------

  /** Run a statement for its side effect; returns the CommandComplete
    * tag (e.g. "CREATE TABLE"). */
  def exec(sql: String): String = {
    send('Q', cstr(sql)); out.flush()
    reply().tag
  }

  /** Simple-protocol query: (column names, rows as text — null stays
    * null). Fine for metadata and readback aggregates; bulk data goes
    * through COPY, never this. */
  def query(sql: String): (Seq[String], Seq[Array[String]]) = {
    send('Q', cstr(sql)); out.flush()
    val r = reply()
    (r.cols, r.rows)
  }

  /** `COPY … FROM STDIN`: stream `data` to the server in CopyData
    * frames, close with CopyDone, return the loaded row count from the
    * server's `COPY <n>` tag. On a server-side error the exception
    * carries the SQLSTATE; the protocol is drained to ReadyForQuery
    * first so the connection is still usable. */
  def copyIn(sql: String, data: InputStream): Long = {
    send('Q', cstr(sql)); out.flush()
    // expect CopyInResponse (or an immediate error, e.g. bad table)
    var m = readMsg()
    while (m._1 != 'G') {
      m._1 match {
        case 'E' => reply(parseError(m._2)) // throws it at the sync point
        case 'Z' => throw new IllegalStateException(
          s"server never entered copy-in mode for: $sql")
        case _ => () // N / S
      }
      m = readMsg()
    }
    val buf = new Array[Byte](1 << 16)
    try {
      var n = data.read(buf)
      while (n >= 0) {
        if (n > 0) withDeadline {
          // a write blocks when the server stops draining (full TCP
          // window on a wedged backend) — same watchdog as reads, so
          // each 64 KiB chunk must make progress within the timeout
          out.writeByte('d')
          out.writeInt(n + 4)
          out.write(buf, 0, n)
        }
        n = data.read(buf)
      }
    } catch {
      case producerFailure: Throwable =>
        // the ROW SOURCE failed mid-stream (encoder error, upstream
        // task failure): tell the server to abort the COPY and drain
        // to the sync point so the connection isn't wedged in
        // copy-in, then surface the producer's error — without the
        // CopyFail the server would wait for CopyData forever
        try {
          send('f', cstr(s"producer failed: ${producerFailure.getMessage}"))
          out.flush()
          reply()
        } catch { case _: Throwable => () } // the original error wins
        throw producerFailure
    }
    send('c', Array.emptyByteArray) // CopyDone
    out.flush()
    val tag = reply().tag
    require(tag != null && tag.startsWith("COPY "),
      s"expected COPY completion tag, got '$tag'")
    tag.stripPrefix("COPY ").trim.toLong
  }

  override def close(): Unit = {
    try { send('X', Array.emptyByteArray); out.flush() }
    catch { case _: java.io.IOException => () }
    finally ch.close()
  }
}
