package graft

import java.io.{DataInputStream, EOFException}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.{PgBinaryCopy, PgCopySink}

/** Row-fidelity proof for the binary COPY path without a live
  * Postgres: golden bytes against the documented PGCOPY format, a
  * full encode→decode roundtrip over every supported type (NULLs,
  * unicode, negative/zero decimals, epoch-shifted dates/timestamps),
  * and the transparent INSERT fallback against embedded Derby. */
class PgCopySpec extends AnyFunSuite {
  import SparkTestSession._

  test("PGCOPY header and trailer match the documented format") {
    val h = PgBinaryCopy.header
    assert(h.take(11).sameElements(
      Array[Byte]('P', 'G', 'C', 'O', 'P', 'Y', '\n', 0xff.toByte, '\r', '\n', 0)))
    assert(h.drop(11).sameElements(Array.fill[Byte](8)(0))) // flags + extlen
    assert(h.length == 19)
    assert(PgBinaryCopy.trailer.sameElements(Array[Byte](-1, -1)))
  }

  private def shorts(b: Array[Byte]): Seq[Int] =
    b.grouped(2).map(g => ((g(0) & 0xff) << 8) | (g(1) & 0xff)).toSeq

  test("numeric encoding: base-10000 groups, weight, sign, dscale") {
    def enc(s: String) = shorts(PgBinaryCopy.encodeNumeric(new java.math.BigDecimal(s)))
    // 1234.56 = 1234·10000⁰ + 5600·10000⁻¹, dscale 2
    assert(enc("1234.56") == Seq(2, 0, 0x0000, 2, 1234, 5600))
    // zero: no digit groups, weight 0
    assert(enc("0.00") == Seq(0, 0, 0x0000, 2))
    // -0.5: one fractional group, weight -1 (0xFFFF as unsigned), negative sign
    assert(enc("-0.5") == Seq(1, 0xffff, 0x4000, 1, 5000))
    // 10000: trailing zero group stripped, weight promoted to 10000¹
    assert(enc("10000") == Seq(1, 1, 0x0000, 0, 1))
    // 12345678.9: groups straddle the decimal point
    assert(enc("12345678.9") == Seq(3, 1, 0x0000, 1, 1234, 5678, 9000))
  }

  test("date and timestamp payloads are 2000-01-01-based") {
    val dEnc = PgBinaryCopy.fieldEncoder(org.apache.spark.sql.types.DateType).get
    assert(dEnc(java.sql.Date.valueOf("2000-01-01")).sameElements(Array[Byte](0, 0, 0, 0)))
    val d1970 = new java.io.DataInputStream(new java.io.ByteArrayInputStream(
      dEnc(java.sql.Date.valueOf("1970-01-01")))).readInt()
    assert(d1970 == -10957)
    val tEnc = PgBinaryCopy.fieldEncoder(org.apache.spark.sql.types.TimestampType).get
    val t = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    // test session TZ is UTC, so PG epoch encodes as exactly 0 µs
    assert(tEnc(t).sameElements(Array.fill[Byte](8)(0)))
  }

  /** Minimal PGCOPY reader: returns per-tuple field payloads (None =
    * NULL), asserting header/trailer framing along the way. */
  private def decode(stream: java.io.InputStream): Seq[Seq[Option[Array[Byte]]]] = {
    val in = new DataInputStream(stream)
    val hdr = new Array[Byte](19)
    in.readFully(hdr)
    assert(hdr.sameElements(PgBinaryCopy.header))
    val tuples = Seq.newBuilder[Seq[Option[Array[Byte]]]]
    var n = in.readShort()
    while (n != -1) {
      tuples += (0 until n).map { _ =>
        val len = in.readInt()
        if (len == -1) None
        else { val p = new Array[Byte](len); in.readFully(p); Some(p) }
      }
      n = in.readShort()
    }
    assertThrows[EOFException](in.readByte()) // nothing after the trailer
    tuples.result()
  }

  test("encode→decode roundtrip preserves every supported type, NULLs included") {
    val df = spark.sql("""
      SELECT * FROM VALUES
        (true, CAST(1 AS TINYINT), CAST(2 AS SMALLINT), 3, CAST(4 AS BIGINT),
         CAST(1.5 AS FLOAT), 2.5D, 'héllo wörld', CAST('ab' AS BINARY),
         DATE'2024-02-29', TIMESTAMP'2024-02-29 12:34:56.789123',
         CAST(-987.65 AS DECIMAL(10,2))),
        (false, CAST(NULL AS TINYINT), CAST(NULL AS SMALLINT), NULL,
         CAST(NULL AS BIGINT), CAST(NULL AS FLOAT), NULL, NULL,
         CAST(NULL AS BINARY), NULL, NULL, CAST(NULL AS DECIMAL(10,2)))
      AS t(b, i1, i2, i4, i8, f4, f8, s, bin, d, ts, num)""")
    val encs = df.schema.fields.map(f => PgBinaryCopy.fieldEncoder(f.dataType).get)
    val rows = df.collect()
    val decoded = decode(new PgBinaryCopy.RowStream(rows.iterator, encs))
    assert(decoded.length == 2)
    val full = decoded.head.map(_.get)
    assert(full(0).sameElements(Array[Byte](1)))
    assert(shorts(full(2)) == Seq(2))
    assert(new DataInputStream(new java.io.ByteArrayInputStream(full(4))).readLong() == 4L)
    assert(java.lang.Double.longBitsToDouble(
      new DataInputStream(new java.io.ByteArrayInputStream(full(6))).readLong()) == 2.5)
    assert(new String(full(7), "UTF-8") == "héllo wörld")
    assert(full(8).sameElements("ab".getBytes("UTF-8")))
    // timestamp: re-derive µs from the known UTC instant
    val expectedUs = {
      val t = rows.head.getTimestamp(10)
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L - 946684800000000L
    }
    assert(new DataInputStream(new java.io.ByteArrayInputStream(full(10))).readLong()
      == expectedUs)
    assert(shorts(full(11)) == Seq(2, 0, 0x4000, 2, 987, 6500))
    // NULL row: every nullable field is None, bool present
    val nulls = decoded(1)
    assert(nulls.head.isDefined && nulls.tail.forall(_.isEmpty))
  }

  test("pre-1970 timestamps and pre-2000 dates encode exact negative offsets") {
    val tEnc = PgBinaryCopy.fieldEncoder(org.apache.spark.sql.types.TimestampType).get
    def us(b: Array[Byte]) =
      new DataInputStream(new java.io.ByteArrayInputStream(b)).readLong()
    // 1969-12-31 23:59:59.999999 UTC = -1 µs from epoch (floor-ms getTime
    // -1 interacts with non-negative getNanos 999999000)
    val preEpoch = java.sql.Timestamp.from(
      java.time.Instant.parse("1969-12-31T23:59:59.999999Z"))
    assert(preEpoch.getTime == -1 && preEpoch.getNanos == 999999000)
    assert(us(tEnc(preEpoch)) == -1L - 946684800000000L)
    // a whole second before the epoch, with sub-ms µs
    val t2 = java.sql.Timestamp.from(
      java.time.Instant.parse("1969-12-31T23:59:58.000123Z"))
    assert(us(tEnc(t2)) == -2000000L + 123L - 946684800000000L)
    // java.time externals (spark.sql.datetime.java8API.enabled=true
    // hands Instant/LocalDate to the encoder) agree bit-for-bit
    assert(us(tEnc(java.time.Instant.parse("1969-12-31T23:59:59.999999Z")))
      == us(tEnc(preEpoch)))
    val dEnc = PgBinaryCopy.fieldEncoder(org.apache.spark.sql.types.DateType).get
    def days(b: Array[Byte]) =
      new DataInputStream(new java.io.ByteArrayInputStream(b)).readInt()
    assert(days(dEnc(java.sql.Date.valueOf("1969-12-31"))) == -10958)
    assert(days(dEnc(java.time.LocalDate.of(1969, 12, 31))) == -10958)
    assert(days(dEnc(java.time.LocalDate.of(2000, 1, 1))) == 0)
  }

  test("TIMESTAMP_NTZ encodes wall-clock µs since 2000-01-01 (golden bytes)") {
    val enc = PgBinaryCopy.fieldEncoder(org.apache.spark.sql.types.TimestampNTZType).get
    def hex(v: String) = enc(java.time.LocalDateTime.parse(v)).map("%02x".format(_)).mkString
    assert(hex("2000-01-01T00:00:00") == "0000000000000000")
    assert(hex("2000-01-01T00:00:00.000001") == "0000000000000001")
    assert(hex("1999-12-31T23:59:59.999999") == "ffffffffffffffff")
    assert(hex("2024-02-29T23:59:59.000001") == "0002b58cd3547dc1")
    // pre-1970: floor seconds plus the non-negative µs-of-second
    assert(hex("1969-07-20T20:17:40.123456") == "fffc96188bb04340")
    // the same wall clock read as a UTC instant encodes identically
    val tEnc = PgBinaryCopy.fieldEncoder(org.apache.spark.sql.types.TimestampType).get
    assert(enc(java.time.LocalDateTime.parse("1969-07-20T20:17:40.123456")).sameElements(
      tEnc(java.time.Instant.parse("1969-07-20T20:17:40.123456Z"))))
  }

  test("INSERT arm: a scan→project write is one Spark job with nothing persisted") {
    val url = "jdbc:derby:memory:graft_onejob;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.execute("DROP TABLE onejob_t")
      catch { case _: java.sql.SQLException => () }
      st.execute("CREATE TABLE onejob_t (order_id BIGINT, qty DOUBLE)")
    } finally c.close()
    val df = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("order_id"), col("l_quantity").as("qty"))
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet.toSet
    val (n, jobs) = org.apache.spark.graft.JobProbe(sc)(
      PgCopySink.write(df, url, "onejob_t"))
    assert(n == df.count())
    assert(jobs.count == 1, s"expected one Spark job, got ${jobs.count}")
    assert(!jobs.touchedPersisted, "the sink must not persist the batch")
    assert((sc.getPersistentRDDs.keySet.toSet -- cachedBefore).isEmpty)
  }

  test("SCRAM-SHA-256 computation matches the RFC 7677 §3 example exchange") {
    // the published test vector: user 'user', password 'pencil'
    val clientFirstBare = "n=user,r=rOprNGfwEbeRWgbNEkqO"
    val serverFirst = "r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0," +
      "s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
    val (clientFinal, serverSig) = graft.sinks.PgWire.Scram.clientFinal(
      "pencil", clientFirstBare, serverFirst, "n,,")
    assert(clientFinal ==
      "c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0," +
        "p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ=")
    assert(serverSig == "6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")
    // a server nonce that does not extend the client's is an attack
    assertThrows[IllegalArgumentException](graft.sinks.PgWire.Scram.clientFinal(
      "pencil", clientFirstBare, serverFirst.replace("rOpr", "evil"), "n,,"))
    // non-ASCII passwords need SASLprep, which this client does not
    // implement: explicit loud reject, never silent mis-normalization
    val e = intercept[IllegalArgumentException](graft.sinks.PgWire.Scram
      .saltedPassword("pässwörd", Array[Byte](1, 2, 3, 4), 4096))
    assert(e.getMessage.contains("SASLprep"))
  }

  test("read timeout: a silent server fails the task instead of parking it") {
    // a server that accepts and never answers the startup packet — the
    // watchdog must close the channel and surface an IOException
    val srv = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    val accepter = new Thread(() => {
      try { val s = srv.accept(); Thread.sleep(30000); s.close() }
      catch { case _: Throwable => () }
    })
    accepter.setDaemon(true)
    accepter.start()
    try {
      val t0 = System.nanoTime()
      val e = intercept[java.io.IOException](graft.sinks.PgWire.connect(
        graft.sinks.PgWire.parse(
          s"jdbc:postgresql://127.0.0.1:${srv.getLocalPort}/db?user=u&socketTimeout=1")))
      val wall = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage.contains("timed out"), e.getMessage)
      assert(wall < 15.0, s"timeout took ${wall}s for a 1s socketTimeout")
    } finally srv.close()
  }

  test("postgres url parsing: host/port/db/user/password/socketDir") {
    // %-decoded parameter values: a password containing &/=/% is
    // written %26/%3D/%25 (pgjdbc URLCoder convention)
    val t = graft.sinks.PgWire.parse(
      "jdbc:postgresql://localhost:5433/mydb?user=u1&password=p%26x%3D1%25&socketDir=/tmp/s")
    assert(t == graft.sinks.PgWire.Target(
      "localhost", 5433, Some("/tmp/s"), "mydb", "u1", Some("p&x=1%")))
    val t2 = graft.sinks.PgWire.parse("jdbc:postgresql://db.internal/warehouse")
    assert(t2.host == "db.internal" && t2.port == 5432 &&
      t2.db == "warehouse" && t2.socketDir.isEmpty)
    // default timeouts, and the pgjdbc-convention seconds params
    assert(t2.connectTimeoutMs == 10000 && t2.readTimeoutMs == 120000)
    val t3 = graft.sinks.PgWire.parse(
      "jdbc:postgresql://h/db?connectTimeout=3&socketTimeout=0")
    assert(t3.connectTimeoutMs == 3000 && t3.readTimeoutMs == 0)
    // malformed escape is a loud parse error, not a silent verbatim pass
    assertThrows[IllegalArgumentException](graft.sinks.PgWire.parse(
      "jdbc:postgresql://h/db?password=p%1"))
    assertThrows[IllegalArgumentException](
      graft.sinks.PgWire.parse("jdbc:postgresql://hostonly"))
    assertThrows[IllegalArgumentException](
      graft.sinks.PgWire.parse("jdbc:derby:memory:x"))
  }

  /** The wire client against a SCRIPTED in-process v3 server — framing
    * coverage that cannot cancel (PgLiveSpec covers the real server):
    * startup/trust auth, CopyInResponse → CopyData → CopyDone with the
    * server-counted tuple total, a text query result set, and an
    * ErrorResponse surfacing as PgServerException after the sync
    * point. */
  test("wire client speaks protocol v3 against a scripted server") {
    val df = spark.range(50).select(col("id").as("k"), (col("id") * 2.5).as("v"))
    val encs = df.schema.fields.map(f => PgBinaryCopy.fieldEncoder(f.dataType).get)
    val rows = df.collect()
    val server = new ScriptedPgServer()
    val port = server.start()
    try {
      val conn = graft.sinks.PgWire.connect(graft.sinks.PgWire.Target(
        "127.0.0.1", port, None, "postgres", "tester", None))
      try {
        // query leg: T/D framing incl. NULL
        val (cols, got) = conn.query("SELECT k, s FROM t")
        assert(cols == Seq("k", "s"))
        assert(got.map(_.toSeq) == Seq(Seq("1", "one"), Seq("2", null)))
        // copy leg: server counts the tuples our stream framed
        val n = conn.copyIn("COPY t FROM STDIN (FORMAT binary)",
          new PgBinaryCopy.RowStream(rows.iterator, encs))
        assert(n == 50)
        // the server-captured stream is a complete PGCOPY payload
        val decoded = decode(new java.io.ByteArrayInputStream(server.copiedBytes))
        assert(decoded.length == 50)
        decoded.zip(rows).foreach { case (fields, row) =>
          assert(fields.length == 2)
          assert(new DataInputStream(new java.io.ByteArrayInputStream(
            fields(0).get)).readLong() == row.getLong(0))
          assert(java.lang.Double.longBitsToDouble(new DataInputStream(
            new java.io.ByteArrayInputStream(fields(1).get)).readLong())
            == row.getDouble(1))
        }
        // error leg: SQLSTATE surfaces, connection reaches ready
        val e = intercept[graft.sinks.PgWire.PgServerException](
          conn.exec("BOOM"))
        assert(e.sqlState == "42601" && e.getMessage.contains("scripted failure"))
        assert(conn.query("SELECT k, s FROM t")._2.length == 2)
      } finally conn.close()
      // startup message carried user/database/client_encoding
      assert(server.startupParams.get("user").contains("tester"))
      assert(server.startupParams.get("database").contains("postgres"))
      assert(server.startupParams.get("client_encoding").contains("UTF8"))
    } finally server.stop()
  }

  test("unsupported column types and non-postgres URLs fall back to the INSERT sink") {
    assert(!PgCopySink.isPostgres("jdbc:derby:memory:x"))
    assert(PgCopySink.isPostgres("jdbc:postgresql://h/db"))
    assert(PgBinaryCopy.fieldEncoder(
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType)).isEmpty)
    // end-to-end fallback: PgCopySink.write against Derby lands rows
    // with identical counts/values to the direct JDBC path
    val url = "jdbc:derby:memory:graft_pgcopy;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.execute("DROP TABLE pgc_t")
      catch { case _: java.sql.SQLException => () }
      st.execute("CREATE TABLE pgc_t (k BIGINT, v DOUBLE)")
    } finally c.close()
    val df = spark.range(100).select(col("id").as("k"),
      (col("id") * 1.5).as("v"))
    val n = PgCopySink.write(df, url, "pgc_t")
    assert(n == 100)
    val back = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "pgc_t").load()
    assert(back.count() == 100)
    assert(back.agg(sum("V")).head().getDouble(0) == (0 until 100).map(_ * 1.5).sum)
  }
}

/** Minimal scripted protocol-v3 backend for client framing tests:
  * trust auth, one connection, canned responses — RowDescription/
  * DataRow for SELECTs, CopyInResponse + server-side tuple counting
  * for COPY, ErrorResponse for anything else. */
class ScriptedPgServer {
  @volatile var copiedBytes: Array[Byte] = _
  @volatile var startupParams: Map[String, String] = Map.empty
  private val srv = new java.net.ServerSocket(
    0, 1, java.net.InetAddress.getByName("127.0.0.1"))
  private var thread: Thread = _

  def start(): Int = {
    thread = new Thread(() => try serve() catch { case _: Throwable => () })
    thread.setDaemon(true)
    thread.start()
    srv.getLocalPort
  }

  def stop(): Unit = { try srv.close() catch { case _: Throwable => () } }

  private def cstr(s: String): Array[Byte] = s.getBytes("UTF-8") :+ 0.toByte

  private def send(out: java.io.DataOutputStream, tag: Char,
      body: Array[Byte]): Unit = {
    out.writeByte(tag)
    out.writeInt(body.length + 4)
    out.write(body)
  }

  private def serve(): Unit = {
    val sock = srv.accept()
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(sock.getInputStream))
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(sock.getOutputStream))
    // startup message: int32 len, int32 proto(3.0), k\0v\0…\0
    val len = in.readInt()
    val body = new Array[Byte](len - 4); in.readFully(body)
    assert(java.nio.ByteBuffer.wrap(body, 0, 4).getInt == 196608)
    val parts = new String(body.drop(4), "UTF-8").split('\u0000').filter(_.nonEmpty)
    startupParams = parts.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    send(out, 'R', Array[Byte](0, 0, 0, 0)) // AuthenticationOk (trust)
    send(out, 'S', cstr("server_version") ++ cstr("15.0"))
    send(out, 'Z', Array('I'.toByte))
    out.flush()
    while (true) {
      val tag = in.readByte().toChar
      val l = in.readInt(); val b = new Array[Byte](l - 4); in.readFully(b)
      tag match {
        case 'Q' =>
          val sql = new String(b.takeWhile(_ != 0), "UTF-8")
          if (sql.startsWith("COPY")) {
            // CopyInResponse: int8 overall=1(binary), int16 ncols, formats
            send(out, 'G', Array[Byte](1, 0, 2, 0, 1, 0, 1)); out.flush()
            val bos = new java.io.ByteArrayOutputStream()
            var done = false
            while (!done) {
              val t2 = in.readByte().toChar
              val l2 = in.readInt(); val b2 = new Array[Byte](l2 - 4)
              in.readFully(b2)
              t2 match {
                case 'd' => bos.write(b2)
                case 'c' | 'f' => done = true
                case other => fail(s"unexpected copy-mode tag '$other'")
              }
            }
            copiedBytes = bos.toByteArray
            send(out, 'C', cstr(s"COPY ${countTuples(copiedBytes)}"))
            send(out, 'Z', Array('I'.toByte))
          } else if (sql.startsWith("SELECT")) {
            // RowDescription: int16 n, per col name\0 + 18 bytes of
            // oids/sizes/format
            val pad = Array.fill[Byte](18)(0)
            send(out, 'T', Array[Byte](0, 2) ++
              cstr("k") ++ pad ++ cstr("s") ++ pad)
            def dataRow(vals: Seq[Option[String]]): Unit = {
              val bos = new java.io.ByteArrayOutputStream()
              val d = new java.io.DataOutputStream(bos)
              d.writeShort(vals.length)
              vals.foreach {
                case Some(v) =>
                  val vb = v.getBytes("UTF-8"); d.writeInt(vb.length); d.write(vb)
                case None => d.writeInt(-1)
              }
              send(out, 'D', bos.toByteArray)
            }
            dataRow(Seq(Some("1"), Some("one")))
            dataRow(Seq(Some("2"), None))
            send(out, 'C', cstr("SELECT 2"))
            send(out, 'Z', Array('I'.toByte))
          } else {
            send(out, 'E', ("S".getBytes("UTF-8") ++ cstr("ERROR") ++
              "C".getBytes("UTF-8") ++ cstr("42601") ++
              "M".getBytes("UTF-8") ++ cstr("scripted failure")) :+ 0.toByte)
            send(out, 'Z', Array('I'.toByte))
          }
          out.flush()
        case 'X' => sock.close(); return
        case _ => ()
      }
    }
  }

  private def fail(msg: String): Nothing = throw new AssertionError(msg)

  /** Count tuples the way the server does: int16 field-count markers
    * until the -1 trailer. */
  private def countTuples(bytes: Array[Byte]): Long = {
    val din = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    din.skipBytes(19)
    var rows = 0L
    var fields = din.readShort()
    while (fields != -1) {
      (0 until fields).foreach { _ =>
        val len = din.readInt()
        if (len != -1) din.skipBytes(len)
      }
      rows += 1
      fields = din.readShort()
    }
    rows
  }
}
