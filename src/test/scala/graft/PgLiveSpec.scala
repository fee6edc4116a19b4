package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.etl._
import graft.sinks.{PgBinaryCopy, PgCopySink, PgServer, PgWire}

/** Live-server acceptance of the whole Postgres load path — server
  * bootstrap shared per JVM via [[PgServer]] (cancels where the
  * container lacks binaries, so the suite stays honest elsewhere):
  *
  *  1. byte-level: a real server-side `COPY FROM (FORMAT binary)` of
  *     [[PgBinaryCopy]] bytes, value-compared through psql — every
  *     encoder branch incl. multibyte UTF-8, pre-1970, negative
  *     high-scale numeric, all-NULL tuple.
  *  2. the FULL sink: [[PgCopySink.write]] drives a Spark DataFrame
  *     through per-partition `COPY FROM STDIN` over graft's own
  *     protocol-v3 wire client — no pgjdbc anywhere — and the
  *     server-side readback value-compares; `Pipeline.run` loads the
  *     server from a `jdbc:postgresql:` conn_str; the server resolves
  *     the target (quoted names, search_path, column case) on the
  *     write's one driver session.
  *  3. the auth matrix of the wire client against the live server:
  *     scram-sha-256, md5, and cleartext `password` hba methods, plus
  *     a wrong-password rejection with the server's SQLSTATE.
  *  4. protocol error discipline: server errors surface as
  *     [[PgWire.PgServerException]] with SQLSTATE and the connection
  *     stays usable past the sync point; a failing row source ends in
  *     CopyFail and surfaces its own error.
  *  5. calendar: old dates and timestamps read back from PG as the same
  *     text Spark prints for them.
  *  6. fan-out: a large partition loads over several COPY streams, all
  *     or nothing, and an executor never holds more COPY connections
  *     than task slots.
  */
class PgLiveSpec extends AnyFunSuite {
  import SparkTestSession._

  // explicit UTF-8 decode of the child's output: sys.process decodes
  // with the platform charset, which mangles multibyte under the
  // container's POSIX locale
  private def sh(cmd: String): (Int, String) = {
    val pb = new java.lang.ProcessBuilder("sh", "-c", cmd)
    pb.directory(new java.io.File("/tmp"))
    pb.redirectErrorStream(true)
    val p = pb.start()
    val bytes = p.getInputStream.readAllBytes()
    val code = p.waitFor()
    (code, new String(bytes, "UTF-8"))
  }

  private def live: PgServer.Live = PgServer.instance match {
    case Right(l) => l
    case Left(reason) => cancel(s"live PostgreSQL unavailable: $reason")
  }

  private def psql(l: PgServer.Live, q: String): String = {
    val (c, o) = sh(
      s"""PGCLIENTENCODING=UTF8 psql -h ${l.socketDir} -U ${l.user} ${l.db} -v ON_ERROR_STOP=1 -At -c "$q"""")
    assert(c == 0, s"psql failed: $o")
    o
  }

  test("live COPY FROM (FORMAT binary) round-trips every encoder type") {
    val l = live
    psql(l, "DROP TABLE IF EXISTS graft_copy")
    psql(l, """CREATE TABLE graft_copy (
      b boolean, i2 smallint, i4 integer, i8 bigint,
      f4 real, f8 double precision, s text, by bytea,
      dt date, ts timestamp, num numeric)""")

    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i2", ShortType),
      StructField("i4", IntegerType), StructField("i8", LongType),
      StructField("f4", FloatType), StructField("f8", DoubleType),
      StructField("s", StringType), StructField("by", BinaryType),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("num", DecimalType(20, 4))))
    val encs = schema.fields.map(f =>
      PgBinaryCopy.fieldEncoder(f.dataType).getOrElse(
        fail(s"no encoder for ${f.dataType}")))
    val rows = Seq(
      Row(true, (-32768).toShort, 2147483647, -9007199254740993L,
        1.5f, -2.25d, "héllo 中𝕆", Array[Byte](0, 1, -1),
        java.time.LocalDate.of(1969, 7, 20),
        java.time.Instant.parse("1965-03-04T12:34:56.789012Z"),
        new java.math.BigDecimal("-12345.6789")),
      Row(false, 7.toShort, -1, 0L, 0.0f, 0.0d, "", Array[Byte](),
        java.time.LocalDate.of(2024, 2, 29),
        java.time.Instant.parse("2024-02-29T23:59:59.000001Z"),
        new java.math.BigDecimal("0.0000")),
      Row(null, null, null, null, null, null, null, null, null, null, null))
    val base = tempDir("pglive_bytes")
    val bin = s"$base/tuples.bin"
    val out = new java.io.FileOutputStream(bin)
    try {
      out.write(PgBinaryCopy.header)
      rows.foreach(r => out.write(PgBinaryCopy.encodeRow(r, encs)))
      out.write(PgBinaryCopy.trailer)
    } finally out.close()
    sh(s"chmod 755 $base && chmod 644 $bin")
    try {
      // the REAL consumer: server-side binary COPY of our bytes
      psql(l, s"COPY graft_copy FROM '$bin' (FORMAT binary)")

      val got = psql(l,
        "SELECT b,i2,i4,i8,f4,f8,s,by,dt,ts,num FROM graft_copy ORDER BY i4 NULLS LAST")
        .trim.split('\n').toSeq
      assert(got == Seq(
        "f|7|-1|0|0|0||\\x|2024-02-29|2024-02-29 23:59:59.000001|0.0000",
        "t|-32768|2147483647|-9007199254740993|1.5|-2.25|héllo 中𝕆|" +
          "\\x0001ff|1969-07-20|1965-03-04 12:34:56.789012|-12345.6789",
        "||||||||||"),
        "server-decoded values must equal what the encoder was fed")
      // numeric arithmetic sanity: the server can COMPUTE on what we
      // sent (proves numeric groups/weight/scale, not just display)
      assert(psql(l, "SELECT SUM(num) FROM graft_copy").trim == "-12345.6789")
      assert(psql(l, "SELECT COUNT(*) FROM graft_copy WHERE b IS NULL").trim == "1")
      // transport-independent multibyte check: the server's own md5 +
      // byte/char census over the stored text must match the UTF-8
      // bytes the encoder was fed (immune to psql display encoding)
      val s0 = "héllo 中𝕆"
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s0.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(psql(l,
        "SELECT md5(s) || '|' || octet_length(s) || '|' || char_length(s)" +
          " FROM graft_copy WHERE b").trim ==
        s"$md5|${s0.getBytes("UTF-8").length}|${s0.codePointCount(0, s0.length)}")
    } finally {
      sh(s"rm -rf $base")
      ()
    }
  }

  test("FULL sink: PgCopySink.write drives per-partition wire COPY into live PG") {
    val l = live
    psql(l, "DROP TABLE IF EXISTS graft_sink")
    psql(l, """CREATE TABLE graft_sink (
      k bigint, s text, v double precision, dt date, ts timestamp, num numeric)""")
    val df = spark.sql("""
      SELECT id AS k,
        CASE WHEN id % 5 = 0 THEN NULL
             WHEN id % 3 = 0 THEN concat('中𝕆-', id)
             ELSE concat('row-', id) END AS s,
        CAST(id AS DOUBLE) * 1.25 AS v,
        DATE_ADD(DATE'1969-12-01', CAST(id AS INT)) AS dt,
        TIMESTAMP'1965-03-04 12:34:56.789012' + make_interval(0,0,0,0,0,0, id) AS ts,
        CAST(CAST(id AS DECIMAL(20,4)) * -1.5 AS DECIMAL(20,4)) AS num
      FROM range(0, 1000)""").repartition(7) // several partitions => several wire COPYs
    val n = PgCopySink.write(df, l.url, "graft_sink")
    assert(n == 1000)
    // value compare through the server itself
    assert(psql(l, "SELECT COUNT(*), COUNT(s), SUM(k)::bigint FROM graft_sink").trim
      == "1000|800|499500")
    assert(psql(l, "SELECT v, dt, ts, num FROM graft_sink WHERE k = 999").trim
      == "1248.75|1972-08-26|1965-03-04 12:51:35.789012|-1498.5000")
    assert(psql(l, "SELECT s FROM graft_sink WHERE k = 999").trim == "中𝕆-999")
    assert(psql(l, "SELECT SUM(num) FROM graft_sink").trim == "-749250.0000")
    // validation parity with the INSERT path: unknown column fails fast
    val bad = spark.range(3).selectExpr("id AS nope")
    val e = intercept[IllegalArgumentException](
      PgCopySink.write(bad, l.url, "graft_sink"))
    assert(e.getMessage.contains("no alias and no same-named column"))
    // retry-duplication detector: a second full write doubles the
    // table (at-least-once is real), and the before/after COUNT(*)
    // delta equals the input, so this second write SUCCEEDS
    assert(PgCopySink.write(df, l.url, "graft_sink") == 1000)
    assert(psql(l, "SELECT COUNT(*) FROM graft_sink").trim == "2000")
  }

  test("schema-qualified target: PgCopySink resolves 'etl.t' as (schema, relation)") {
    val l = live
    psql(l, "CREATE SCHEMA IF NOT EXISTS graft_etl")
    psql(l, "DROP TABLE IF EXISTS graft_etl.orders_q")
    psql(l, "CREATE TABLE graft_etl.orders_q (k bigint, s text)")
    val df = spark.range(0, 100).selectExpr("id AS k", "concat('r-', id) AS s")
    // looked up as table_name='graft_etl.orders_q' in current_schema(),
    // the column check would call the table missing
    assert(PgCopySink.write(df, l.url, "graft_etl.orders_q") == 100)
    assert(psql(l, "SELECT COUNT(*), SUM(k)::bigint FROM graft_etl.orders_q").trim
      == "100|4950")
    assert(psql(l, "SELECT s FROM graft_etl.orders_q WHERE k = 42").trim == "r-42")
  }

  test("a quoted mixed-case table loads under the name COPY accepts") {
    val l = live
    val conn = PgWire.connect(l.target)
    try {
      conn.exec("DROP TABLE IF EXISTS \"LoadTarget\"")
      conn.exec("CREATE TABLE \"LoadTarget\" (k bigint, s text)")
      val df = spark.range(0, 50).selectExpr("id AS k", "concat('r-', id) AS s")
      assert(PgCopySink.write(df, l.url, "\"LoadTarget\"") == 50)
      assert(conn.query("SELECT COUNT(*), SUM(k) FROM \"LoadTarget\"")._2.head.toSeq ==
        Seq("50", "1225"))
    } finally conn.close()
  }

  test("a table reached through search_path past current_schema() loads") {
    val l = live
    val conn = PgWire.connect(l.target)
    try {
      // a role of its own, so no other session sees the changed path
      conn.exec("DROP SCHEMA IF EXISTS graft_sp_a, graft_sp_b CASCADE")
      conn.exec("DROP ROLE IF EXISTS graft_sp")
      conn.exec("CREATE ROLE graft_sp LOGIN")
      conn.exec("CREATE SCHEMA graft_sp_a")
      conn.exec("CREATE SCHEMA graft_sp_b")
      conn.exec("CREATE TABLE graft_sp_b.sp_target (k bigint)")
      conn.exec("GRANT USAGE ON SCHEMA graft_sp_a, graft_sp_b TO graft_sp")
      conn.exec("GRANT SELECT, INSERT ON graft_sp_b.sp_target TO graft_sp")
      conn.exec("ALTER ROLE graft_sp SET search_path = graft_sp_a, graft_sp_b")
      try {
        val url = s"jdbc:postgresql://localhost:${l.port}/${l.db}?user=graft_sp&socketDir=${l.socketDir}"
        val c = PgWire.connect(PgWire.parse(url))
        try assert(c.query("SELECT current_schema()")._2.head(0) == "graft_sp_a")
        finally c.close()
        assert(PgCopySink.write(spark.range(0, 30).toDF("k"), url, "sp_target") == 30)
        assert(conn.query("SELECT COUNT(*), SUM(k) FROM graft_sp_b.sp_target")._2.head.toSeq ==
          Seq("30", "435"))
      } finally conn.exec("ALTER ROLE graft_sp RESET search_path")
    } finally conn.close()
  }

  test("a field that matches an unquoted column only by case loads into it") {
    val l = live
    psql(l, "DROP TABLE IF EXISTS graft_case")
    psql(l, "CREATE TABLE graft_case (orderkey bigint, note text)")
    val df = spark.range(0, 40).selectExpr("id AS OrderKey", "'n' AS note")
    assert(PgCopySink.write(df, l.url, "graft_case") == 40)
    assert(psql(l, "SELECT COUNT(*), SUM(orderkey)::bigint, COUNT(note) FROM graft_case").trim ==
      "40|780|40")
  }

  test("a one-partition write opens two server sessions: the driver's and one COPY") {
    val l = live
    val monitor = PgWire.connect(l.target)
    try {
      monitor.exec("DROP TABLE IF EXISTS graft_sessions")
      monitor.exec("CREATE TABLE graft_sessions (k bigint)")
      // a backend adds its session to pg_stat_database by the time it
      // leaves pg_stat_activity
      def sessions(): Long = {
        var left = 400
        while (left > 0 && monitor.query("SELECT count(*) FROM pg_stat_activity " +
            "WHERE backend_type = 'client backend' AND pid <> pg_backend_pid()")._2
            .head(0) != "0") { Thread.sleep(5); left -= 1 }
        monitor.query("SELECT sessions FROM pg_stat_database " +
          "WHERE datname = current_database()")._2.head(0).toLong
      }
      val before = sessions()
      assert(PgCopySink.write(spark.range(0, 100, 1, 1).toDF("k"), l.url, "graft_sessions") == 100)
      assert(sessions() - before == 2)
    } finally monitor.close()
  }

  /** Server sessions ended so far in this database, read once every
    * backend but the monitor's has left. */
  private def sessionsEnded(monitor: graft.sinks.PgWireConn): Long = {
    var left = 400
    while (left > 0 && monitor.query("SELECT count(*) FROM pg_stat_activity " +
        "WHERE backend_type = 'client backend' AND pid <> pg_backend_pid()")._2
        .head(0) != "0") { Thread.sleep(5); left -= 1 }
    monitor.query("SELECT sessions FROM pg_stat_database " +
      "WHERE datname = current_database()")._2.head(0).toLong
  }

  /** 300k rows of (k, v, s) in one partition: 26 bytes of fixed fields
    * and 44–63 bytes of text per row, about 23 MiB of PGCOPY. */
  private val FanOutRows = 300000L
  private def fanOutFrame(k: String = "id") = spark.range(0, FanOutRows, 1, 1)
    .selectExpr(s"$k AS k", "id * 3 AS v", "repeat('x', 40 + CAST(id % 20 AS INT)) AS s")

  test("a one-partition write of 23 MiB fans out over more COPY streams and loads exactly") {
    val l = live
    val monitor = PgWire.connect(l.target)
    try {
      monitor.exec("DROP TABLE IF EXISTS graft_fanout")
      monitor.exec("CREATE TABLE graft_fanout (k bigint, v bigint, s text)")
      val before = sessionsEnded(monitor)
      assert(PgCopySink.write(fanOutFrame(), l.url, "graft_fanout") == FanOutRows)
      val opened = sessionsEnded(monitor) - before
      val n = FanOutRows
      assert(monitor.query("SELECT COUNT(*), SUM(k), SUM(v), SUM(octet_length(s)) " +
        "FROM graft_fanout")._2.head.toSeq ==
        Seq(n, n * (n - 1) / 2, 3 * n * (n - 1) / 2, 40 * n + 19 * n / 2).map(_.toString))
      val pgcopyBytes = 19 + 26 * n + 4 * n + (40 * n + 19 * n / 2) + 2
      assert(pgcopyBytes >= (16L << 20))
      assert(opened > 2, s"one partition of $pgcopyBytes bytes opened $opened sessions")
    } finally monitor.close()
  }

  test("a late row that fails a CHECK after fan-out fails the write and lands nothing") {
    val l = live
    val monitor = PgWire.connect(l.target)
    try {
      monitor.exec("DROP TABLE IF EXISTS graft_fanout_check")
      monitor.exec("CREATE TABLE graft_fanout_check (k bigint, v bigint, s text, " +
        s"CONSTRAINT graft_late_row CHECK (k <> ${FanOutRows - 100}))")
      monitor.exec("INSERT INTO graft_fanout_check VALUES (-1, 0, 'kept'), (-2, 0, 'kept')")
      val before = sessionsEnded(monitor)
      val e = intercept[org.apache.spark.SparkException](
        PgCopySink.write(fanOutFrame(), l.url, "graft_fanout_check"))
      assert(e.getMessage.contains("graft_late_row"), e.getMessage)
      assert(sessionsEnded(monitor) - before > 2, "the load never fanned out")
      assert(monitor.query("SELECT COUNT(*) FROM graft_fanout_check")._2.head(0) == "2")
    } finally monitor.close()
  }

  test("a producer failure after fan-out surfaces the producer's error and lands nothing") {
    val l = live
    val monitor = PgWire.connect(l.target)
    try {
      monitor.exec("DROP TABLE IF EXISTS graft_fanout_fail")
      monitor.exec("CREATE TABLE graft_fanout_fail (k bigint, v bigint, s text)")
      val before = sessionsEnded(monitor)
      val df = fanOutFrame(
        s"IF(id = ${FanOutRows - 100}, CAST(raise_error('producer exploded') AS BIGINT), id)")
      // Spark rethrows a SparkThrowable raised in a task as itself
      val e = intercept[Exception](PgCopySink.write(df, l.url, "graft_fanout_fail"))
      assert(e.getMessage.contains("producer exploded"), e.getMessage)
      assert(!e.getMessage.contains("aborted"), e.getMessage)
      assert(sessionsEnded(monitor) - before > 2, "the load never fanned out")
      assert(monitor.query("SELECT COUNT(*) FROM graft_fanout_fail")._2.head(0) == "0")
    } finally monitor.close()
  }

  test("a primary-key target keeps one COPY stream: a late duplicate key fails at once") {
    val l = live
    val monitor = PgWire.connect(l.target)
    try {
      monitor.exec("DROP TABLE IF EXISTS graft_fanout_pk")
      monitor.exec("CREATE TABLE graft_fanout_pk (k bigint PRIMARY KEY, v bigint, s text)")
      val before = sessionsEnded(monitor)
      val started = System.nanoTime
      // row 5's key again near the end: two streams would each hold one
      // copy, the later waiting on the earlier's COMMIT
      val e = intercept[org.apache.spark.SparkException](PgCopySink.write(
        fanOutFrame(s"IF(id = ${FanOutRows - 100}, 5, id)"), l.url, "graft_fanout_pk"))
      val seconds = (System.nanoTime - started) / 1e9
      assert(e.getMessage.contains("duplicate key value violates unique constraint"), e.getMessage)
      assert(seconds < 30, s"the duplicate key failed the write after $seconds s")
      assert(sessionsEnded(monitor) - before == 2)
      assert(monitor.query("SELECT COUNT(*) FROM graft_fanout_pk")._2.head(0) == "0")
    } finally monitor.close()
  }

  test("a unique index on a partition, a deferrable unique constraint or a trigger keeps one stream") {
    val l = live
    val monitor = PgWire.connect(l.target)
    try {
      monitor.exec("DROP TABLE IF EXISTS graft_fanout_parted, graft_fanout_deferred, graft_fanout_trig")
      monitor.exec("CREATE TABLE graft_fanout_parted (k bigint, v bigint, s text) PARTITION BY RANGE (k)")
      monitor.exec("CREATE TABLE graft_fanout_parted_all PARTITION OF graft_fanout_parted " +
        "FOR VALUES FROM (MINVALUE) TO (MAXVALUE)")
      monitor.exec("CREATE UNIQUE INDEX ON graft_fanout_parted_all (k)")
      monitor.exec("CREATE TABLE graft_fanout_deferred (k bigint, v bigint, s text, " +
        "UNIQUE (k) DEFERRABLE INITIALLY DEFERRED)")
      monitor.exec("CREATE TABLE graft_fanout_trig (k bigint, v bigint, s text)")
      monitor.exec("CREATE OR REPLACE FUNCTION graft_fanout_keep() RETURNS trigger " +
        "LANGUAGE plpgsql AS $$BEGIN RETURN NEW; END$$")
      monitor.exec("CREATE TRIGGER graft_fanout_keep BEFORE INSERT ON graft_fanout_trig " +
        "FOR EACH ROW EXECUTE FUNCTION graft_fanout_keep()")
      for (table <- Seq("graft_fanout_parted", "graft_fanout_deferred", "graft_fanout_trig")) {
        val before = sessionsEnded(monitor)
        assert(PgCopySink.write(fanOutFrame(), l.url, table) == FanOutRows)
        assert(sessionsEnded(monitor) - before == 2, table)
        assert(monitor.query(s"SELECT COUNT(*) FROM $table")._2.head(0) == FanOutRows.toString)
      }
    } finally monitor.close()
  }

  test("as many non-empty partitions as task slots open one COPY session each") {
    val l = live
    val monitor = PgWire.connect(l.target)
    val slots = 4 // SparkTestSession runs local[4]
    try {
      monitor.exec("DROP TABLE IF EXISTS graft_fanout_slots")
      monitor.exec("CREATE TABLE graft_fanout_slots (p int, k bigint, s text)")
      // 60k rows of 128 UnsafeRow bytes per partition, each past the
      // fan-out floor. Every partition reaches its second row only once
      // all hold a connection, and produces its last row after a pause
      // that drains its queue, so none finds a sibling's slot freed.
      val rows = 60000
      FanOutGate.reset(slots)
      val rdd = spark.sparkContext.parallelize(0 until slots, slots).mapPartitions { it =>
        val p = it.next()
        Iterator.range(0, rows).map { i =>
          if (i == 1) FanOutGate.await(FanOutGate.start)
          if (i == rows - 1) { FanOutGate.await(FanOutGate.end); Thread.sleep(300) }
          Row(p, i.toLong, "y" * 100)
        }
      }
      val df = spark.createDataFrame(rdd, StructType(Seq(StructField("p", IntegerType),
        StructField("k", LongType), StructField("s", StringType))))
      val before = sessionsEnded(monitor)
      assert(PgCopySink.write(df, l.url, "graft_fanout_slots") == slots.toLong * rows)
      assert(sessionsEnded(monitor) - before == 1 + slots)
      assert(monitor.query("SELECT COUNT(DISTINCT p), SUM(k) FROM graft_fanout_slots")._2.head.toSeq ==
        Seq(slots.toString, (slots.toLong * rows * (rows - 1) / 2).toString))
    } finally monitor.close()
  }

  test("a missing table, an unknown alias or a name matching two columns by case fails before any job") {
    val l = live
    val conn = PgWire.connect(l.target)
    try {
      conn.exec("DROP TABLE IF EXISTS graft_reject")
      conn.exec("CREATE TABLE graft_reject (k bigint, \"Amount\" float8, \"AMOUNT\" float8)")
      val df = spark.range(0, 10).selectExpr("id AS k", "CAST(id AS DOUBLE) AS amount")
      def rejected(table: String, aliases: Map[String, Option[String]]): String = {
        val (e, jobs) = org.apache.spark.graft.JobProbe(spark.sparkContext)(
          intercept[IllegalArgumentException](PgCopySink.write(df, l.url, table, aliases)))
        assert(jobs.count == 0)
        e.getMessage
      }
      assert(rejected("graft_no_such_table", Map.empty) ==
        "table 'graft_no_such_table' does not exist in connected db")
      assert(rejected("graft_reject", Map("amount" -> Some("amt"))) ==
        "alias 'amt' for parquet field 'amount' is not a column of the target table")
      val ambiguous = rejected("graft_reject", Map.empty)
      assert(ambiguous.contains("'Amount'") && ambiguous.contains("'AMOUNT'"), ambiguous)
      assert(conn.query("SELECT COUNT(*) FROM graft_reject")._2.head(0) == "0")
    } finally conn.close()
  }

  test("TIMESTAMP_NTZ round-trips unshifted into a timestamp column") {
    val l = live
    psql(l, "DROP TABLE IF EXISTS graft_ntz")
    psql(l, "CREATE TABLE graft_ntz (k int, ts timestamp)")
    val df = spark.sql("""
      SELECT * FROM VALUES
        (1, TIMESTAMP_NTZ'1969-07-20 20:17:40.123456'),
        (2, TIMESTAMP_NTZ'2024-02-29 23:59:59.000001'),
        (3, CAST(NULL AS TIMESTAMP_NTZ)) AS t(k, ts)""")
    assert(PgCopySink.write(df, l.url, "graft_ntz") == 3)
    assert(psql(l, "SELECT k || '|' || coalesce(ts::text, 'null') FROM graft_ntz ORDER BY k")
      .trim.split('\n').toSeq == Seq(
        "1|1969-07-20 20:17:40.123456", "2|2024-02-29 23:59:59.000001", "3|null"))
  }

  test("COPY arm: a scan→project write is one Spark job with nothing persisted") {
    val l = live
    psql(l, "DROP TABLE IF EXISTS graft_onejob")
    psql(l, "CREATE TABLE graft_onejob (order_id bigint, qty double precision)")
    import org.apache.spark.sql.functions.col
    val df = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("order_id"), col("l_quantity").as("qty"))
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.keySet.toSet
    val (n, jobs) = org.apache.spark.graft.JobProbe(sc)(
      PgCopySink.write(df, l.url, "graft_onejob"))
    assert(n == df.count())
    assert(psql(l, "SELECT COUNT(*) FROM graft_onejob").trim == n.toString)
    assert(jobs.count == 1, s"expected one Spark job, got ${jobs.count}")
    assert(!jobs.touchedPersisted, "the sink must not persist the batch")
    assert((sc.getPersistentRDDs.keySet.toSet -- cachedBefore).isEmpty)
  }

  test("Pipeline.run loads live Postgres from a jdbc:postgresql: conn_str") {
    val l = live
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val base = tempDir("pglive_pipeline").toString
    val bucket = s"$base/bucket"
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    val objects = (0 until 4).map(i => f"part_$i%02d.parquet")
    objects.zipWithIndex.foreach { case (name, i) =>
      li.filter(pmod(col("l_orderkey"), lit(4)) === i).write.parquet(s"$bucket/$name")
    }
    def workList(name: String): String = {
      val dir = s"$base/$name"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "todo"),
        objects.mkString("", "\n", "\n"))
      dir
    }
    psql(l, "DROP TABLE IF EXISTS graft_pipeline")
    psql(l, "CREATE TABLE graft_pipeline (order_id bigint, l_linenumber bigint, " +
      "l_quantity double precision, l_shipdate timestamp)")
    // two batches of two objects; one alias; one cast (int → bigint)
    def cfg(fields: Seq[String], work: String) = GraftConfig(
      DbConfig("graft_pipeline", l.url),
      S3Config(bucket, downloadBatchSize = 2, downloadsDir = "unused"),
      ParquetConfig(fields), Some(Map("l_orderkey" -> Some("order_id"))),
      WorkListsConfig(work))
    val fields = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    val casts = Map("l_linenumber" -> "bigint")
    val total = Pipeline.run(spark, cfg(fields, workList("work")), casts)
    val want = li.agg(org.apache.spark.sql.functions.count(lit(1)),
      org.apache.spark.sql.functions.sum("l_orderkey"),
      org.apache.spark.sql.functions.sum("l_linenumber"),
      org.apache.spark.sql.functions.sum("l_quantity").cast("bigint"),
      org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.min("l_shipdate"), "yyyy-MM-dd HH:mm:ss")).head()
    assert(total == want.getLong(0))
    assert(psql(l, "SELECT COUNT(*), SUM(order_id)::bigint, SUM(l_linenumber)::bigint, " +
      "SUM(l_quantity)::bigint, MIN(l_shipdate) FROM graft_pipeline").trim ==
      want.toSeq.mkString("|"))
    // a repeated desired_fields entry resolves to the same target
    // column twice: rejected before any row moves
    val e = intercept[IllegalArgumentException](Pipeline.run(spark,
      cfg(fields :+ "l_orderkey", workList("work_dup")), casts))
    assert(e.getMessage.contains("duplicate target"))
    assert(psql(l, "SELECT COUNT(*) FROM graft_pipeline").trim == total.toString)
    sh(s"rm -rf $base")
  }

  test("wire auth matrix: scram-sha-256, md5, cleartext password, wrong-password reject") {
    val l = live
    // roles with stored credentials in both formats
    psql(l, "DROP ROLE IF EXISTS graft_scram")
    psql(l, "DROP ROLE IF EXISTS graft_md5")
    psql(l, "SET password_encryption='scram-sha-256'; " +
      "CREATE ROLE graft_scram LOGIN PASSWORD 'sekret-scram'")
    psql(l, "SET password_encryption='md5'; " +
      "CREATE ROLE graft_md5 LOGIN PASSWORD 'sekret-md5'")
    // hba: method depends on the connecting role; first match wins
    val hba = s"${PgServer.dataDir}/pg_hba.conf"
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(hba)), "UTF-8")
    if (!body.contains("graft_scram")) {
      java.nio.file.Files.write(java.nio.file.Paths.get(hba),
        ("local all graft_scram scram-sha-256\n" +
          "local all graft_md5 md5\n" + body).getBytes("UTF-8"))
      psql(l, "SELECT pg_reload_conf()")
    }
    def url(u: String, pw: String) =
      s"jdbc:postgresql://localhost:${l.port}/${l.db}?user=$u&password=$pw&socketDir=${l.socketDir}"
    // SCRAM-SHA-256 (the PG15 default)
    val c1 = PgWire.connect(PgWire.parse(url("graft_scram", "sekret-scram")))
    try assert(c1.query("SELECT current_user")._2.head(0) == "graft_scram")
    finally c1.close()
    // MD5 challenge-response
    val c2 = PgWire.connect(PgWire.parse(url("graft_md5", "sekret-md5")))
    try assert(c2.query("SELECT current_user")._2.head(0) == "graft_md5")
    finally c2.close()
    // wrong password must be rejected by the SERVER (28P01), proving
    // the proof actually reaches it
    val e = intercept[PgWire.PgServerException](
      PgWire.connect(PgWire.parse(url("graft_scram", "wrong"))))
    assert(e.sqlState == "28P01", e.getMessage)
    // cleartext `password` method: switch the hba line and reconnect
    val body2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(hba)), "UTF-8")
    java.nio.file.Files.write(java.nio.file.Paths.get(hba),
      body2.replace("local all graft_md5 md5",
        "local all graft_md5 password").getBytes("UTF-8"))
    psql(l, "SELECT pg_reload_conf()")
    val c3 = PgWire.connect(PgWire.parse(url("graft_md5", "sekret-md5")))
    try assert(c3.query("SELECT current_user")._2.head(0) == "graft_md5")
    finally c3.close()
  }

  test("wire protocol error discipline: SQLSTATE surfaces, connection survives") {
    val l = live
    val conn = PgWire.connect(l.target)
    try {
      // copy into a missing table: the error carries 42P01 and the
      // connection reaches its sync point
      val e = intercept[PgWire.PgServerException](
        conn.copyIn("COPY graft_nope FROM STDIN (FORMAT binary)",
          new java.io.ByteArrayInputStream(PgBinaryCopy.header ++ PgBinaryCopy.trailer)))
      assert(e.sqlState == "42P01", e.getMessage)
      // ...and is still usable for the next statement
      assert(conn.query("SELECT 41 + 1")._2.head(0) == "42")
      // mid-COPY server error (wrong trailer => 22P04 bad copy data)
      val e2 = intercept[PgWire.PgServerException] {
        conn.exec("CREATE TABLE IF NOT EXISTS graft_badcopy (k bigint)")
        conn.copyIn("COPY graft_badcopy FROM STDIN (FORMAT binary)",
          new java.io.ByteArrayInputStream(
            PgBinaryCopy.header ++ Array[Byte](9, 9))) // torn tuple
      }
      assert(e2.sqlState.startsWith("22"), e2.getMessage)
      assert(conn.query("SELECT 1")._2.head(0) == "1")
      // producer failure mid-COPY: the row source's own exception
      // surfaces (not a protocol hang) and the connection recovers —
      // the client sends CopyFail and drains to the sync point
      val boom = new java.io.InputStream {
        private var sent = 0
        override def read(): Int =
          if (sent < PgBinaryCopy.header.length) {
            sent += 1; PgBinaryCopy.header(sent - 1) & 0xff
          } else throw new RuntimeException("row source exploded")
      }
      val e3 = intercept[RuntimeException](
        conn.copyIn("COPY graft_badcopy FROM STDIN (FORMAT binary)", boom))
      assert(e3.getMessage == "row source exploded")
      assert(conn.query("SELECT 2")._2.head(0) == "2")
      // exec() on a COPY FROM statement must refuse the transfer and
      // surface the server's CopyFail error, never deadlock
      val e4 = intercept[PgWire.PgServerException](
        conn.exec("COPY graft_badcopy FROM STDIN (FORMAT binary)"))
      assert(e4.sqlState == "57014", e4.getMessage) // query_canceled
      assert(conn.query("SELECT 3")._2.head(0) == "3")
    } finally conn.close()
  }

  test("InternalRow producer failure mid-COPY: CopyFail, producer's error, connection survives") {
    val l = live
    val conn = PgWire.connect(l.target)
    try {
      conn.exec("DROP TABLE IF EXISTS graft_rowfail")
      conn.exec("CREATE TABLE graft_rowfail (k bigint, s text)")
      val writers = Array(LongType, StringType).map(t => PgBinaryCopy.fieldWriter(t).get)
      val copySql = "COPY graft_rowfail (k, s) FROM STDIN WITH (FORMAT binary)"
      // one reused row, as toRdd hands the sink; the source fails after
      // several 64 KiB frames have gone out
      def rows(n: Int, failAt: Int): Iterator[InternalRow] = {
        val row = new GenericInternalRow(2)
        Iterator.range(0, n).map { i =>
          if (i == failAt) throw new RuntimeException("partition source exploded")
          row.setLong(0, i.toLong)
          row.update(1, UTF8String.fromString(s"row-$i"))
          row
        }
      }
      val e = intercept[RuntimeException](conn.copyIn(copySql,
        new PgBinaryCopy.InternalRowStream(rows(50000, 20000), writers)))
      assert(e.getMessage == "partition source exploded")
      assert(conn.query("SELECT COUNT(*) FROM graft_rowfail")._2.head(0) == "0")
      // the same connection still loads
      assert(conn.copyIn(copySql,
        new PgBinaryCopy.InternalRowStream(rows(1000, -1), writers)) == 1000)
      assert(conn.query("SELECT COUNT(*), SUM(k) FROM graft_rowfail")._2.head.toSeq ==
        Seq("1000", "499500"))
    } finally conn.close()
  }

  test("old dates and timestamps: PG's ::text equals Spark's cast to string (UTC)") {
    val l = live
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    psql(l, "DROP TABLE IF EXISTS graft_calendar")
    psql(l, "CREATE TABLE graft_calendar (k int, d date, ts timestamp)")
    val df = spark.sql("""
      SELECT * FROM VALUES
        (1, DATE'0001-01-01', TIMESTAMP'0001-01-01 00:00:00'),
        (2, DATE'1500-03-01', TIMESTAMP'1500-03-01 12:00:00'),
        (3, DATE'1582-10-04', TIMESTAMP'1582-10-15 00:00:00.000001'),
        (4, DATE'1855-06-15', TIMESTAMP'1855-06-15 08:30:00.5'),
        (5, DATE'1969-12-31', TIMESTAMP'1969-12-31 23:59:59.999999') AS t(k, d, ts)""")
    assert(PgCopySink.write(df, l.url, "graft_calendar") == 5)
    val want = df.orderBy("k")
      .selectExpr("concat_ws('|', k, CAST(d AS STRING), CAST(ts AS STRING))")
      .collect().map(_.getString(0)).toSeq
    assert(psql(l, "SELECT k || '|' || d::text || '|' || ts::text FROM graft_calendar ORDER BY k")
      .trim.split('\n').toSeq == want)
  }
}

/** Barriers the partitions of PgLiveSpec's task-slot spec meet at; the
  * tasks run in the spec's JVM under `local[4]`. */
object FanOutGate {
  @volatile var start, end: java.util.concurrent.CyclicBarrier = _
  def reset(parties: Int): Unit = {
    start = new java.util.concurrent.CyclicBarrier(parties)
    end = new java.util.concurrent.CyclicBarrier(parties)
  }
  def await(b: java.util.concurrent.CyclicBarrier): Unit = {
    b.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
  }
}
