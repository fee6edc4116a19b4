package graft.sinks

import java.io.{ByteArrayOutputStream, DataOutputStream, InputStream}
import java.sql.DriverManager
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.jdbc.{JdbcOptionsInWrite, JdbcUtils}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types._

/** PGCOPY binary encoder — the wire format `COPY ... FROM STDIN WITH
  * (FORMAT binary)` consumes (PostgreSQL docs, "Binary Format"; the
  * reference loads through exactly this path via BinaryCopyInWriter,
  * src/db.rs:8,167-177). Pure functions over Spark rows, so fidelity
  * is provable in specs without a live server:
  *
  *   header   "PGCOPY\n\377\r\n\0" + int32 flags(0) + int32 extlen(0)
  *   tuple    int16 nfields, then per field int32 length (-1 = NULL)
  *            + big-endian payload
  *   trailer  int16 -1
  *
  * Payloads: int2/int4/int8, float4/float8 (IEEE bits), bool (1 byte),
  * text (UTF-8), bytea (raw), date (int4 days since 2000-01-01),
  * timestamp and timestamp_ntz (int8 µs since 2000-01-01), numeric
  * (base-10000 digit groups — completing the DECIMAL arm the reference
  * leaves half-finished, converters.rs:84,101-114).
  */
object PgBinaryCopy {

  /** Epoch shifts: PG binary day/µs counts are relative to 2000-01-01. */
  private val PgEpochDays = 10957L
  private val PgEpochUs = 946684800000000L

  val header: Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.write(Array[Byte]('P', 'G', 'C', 'O', 'P', 'Y', '\n', 0xff.toByte, '\r', '\n', 0))
    out.writeInt(0) // flags: no OIDs
    out.writeInt(0) // header extension length
    bos.toByteArray
  }

  val trailer: Array[Byte] = Array[Byte](0xff.toByte, 0xff.toByte)

  /** PG `numeric` binary body: int16 ndigits, weight, sign, dscale,
    * then base-10000 digits most-significant first (normalized: no
    * leading/trailing zero groups; zero itself is ndigits=0). */
  private[graft] def encodeNumeric(d: java.math.BigDecimal): Array[Byte] = {
    val dscale = math.max(d.scale, 0)
    // integral representation at a scale that is a multiple of 4,
    // so base-10000 groups align with the decimal point
    val padScale = ((dscale + 3) / 4) * 4
    val scaled = d.setScale(padScale).unscaledValue.abs
    val sign = if (d.signum < 0) 0x4000 else 0x0000
    var groups = List.empty[Int]
    var v = scaled
    val tenK = java.math.BigInteger.valueOf(10000)
    while (v.signum != 0) {
      val qr = v.divideAndRemainder(tenK)
      groups = qr(1).intValue :: groups
      v = qr(0)
    }
    // weight of the most significant group, in 10000^k units
    var weight = groups.length - 1 - padScale / 4
    // normalize: strip trailing zero groups (weight unaffected), then
    // leading zero groups (weight already excludes them by counting)
    groups = groups.reverse.dropWhile(_ == 0).reverse
    while (groups.headOption.contains(0)) { groups = groups.tail; weight -= 1 }
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeShort(groups.length)
    out.writeShort(if (groups.isEmpty) 0 else weight)
    out.writeShort(sign)
    out.writeShort(dscale)
    groups.foreach(out.writeShort)
    bos.toByteArray
  }

  /** Per-field payload encoder for a Spark type, or None if the type
    * has no PG binary mapping (caller falls back to the INSERT path). */
  private[graft] def fieldEncoder(dt: DataType): Option[Any => Array[Byte]] = {
    def be(n: Int)(f: DataOutputStream => Unit): Array[Byte] = {
      val bos = new ByteArrayOutputStream(n)
      val out = new DataOutputStream(bos)
      f(out); bos.toByteArray
    }
    dt match {
      case BooleanType => Some(v => Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0))
      case ByteType    => Some(v => be(2)(_.writeShort(v.asInstanceOf[Byte].toInt)))
      case ShortType   => Some(v => be(2)(_.writeShort(v.asInstanceOf[Short].toInt)))
      case IntegerType => Some(v => be(4)(_.writeInt(v.asInstanceOf[Int])))
      case LongType    => Some(v => be(8)(_.writeLong(v.asInstanceOf[Long])))
      case FloatType   => Some(v => be(4)(_.writeFloat(v.asInstanceOf[Float])))
      case DoubleType  => Some(v => be(8)(_.writeDouble(v.asInstanceOf[Double])))
      case StringType  => Some(v => v.asInstanceOf[String].getBytes("UTF-8"))
      case BinaryType  => Some(v => v.asInstanceOf[Array[Byte]])
      // both java.sql and java.time externals: with
      // spark.sql.datetime.java8API.enabled=true Row.get returns
      // LocalDate/Instant instead of java.sql.Date/Timestamp
      case DateType => Some {
        case d: java.sql.Date => be(4)(_.writeInt(
          (d.toLocalDate.toEpochDay - PgEpochDays).toInt))
        case ld: java.time.LocalDate => be(4)(_.writeInt(
          (ld.toEpochDay - PgEpochDays).toInt))
        case other => throw new IllegalArgumentException(
          s"unexpected date external: ${other.getClass.getName}")
      }
      case TimestampType => Some {
        // Timestamp.getTime is FLOOR-ms of the instant (negative pre-
        // 1970) and getNanos is the non-negative in-second component,
        // so getTime*1000 + µs-within-ms is exact on both sides of the
        // epoch (pre-1970 golden bytes in PgCopySpec)
        case t: java.sql.Timestamp =>
          val us = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
          be(8)(_.writeLong(us - PgEpochUs))
        case i: java.time.Instant =>
          val us = Math.addExact(
            Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
          be(8)(_.writeLong(us - PgEpochUs))
        case other => throw new IllegalArgumentException(
          s"unexpected timestamp external: ${other.getClass.getName}")
      }
      // a TIMESTAMP_NTZ is a wall clock: its fields count as if UTC, so
      // it lands unshifted in a PG `timestamp` column (toEpochSecond
      // floors and getNano is non-negative, so pre-1970 is exact)
      case TimestampNTZType => Some { v =>
        val t = v.asInstanceOf[java.time.LocalDateTime]
        val us = Math.addExact(Math.multiplyExact(
          t.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L), t.getNano / 1000L)
        be(8)(_.writeLong(us - PgEpochUs))
      }
      case _: DecimalType => Some(v =>
        encodeNumeric(v.asInstanceOf[java.math.BigDecimal]))
      case _ => None
    }
  }

  /** Encode one tuple (nfields + length-prefixed payloads). */
  private[graft] def encodeRow(row: Row, encs: Array[Any => Array[Byte]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(64)
    val out = new DataOutputStream(bos)
    out.writeShort(encs.length)
    var i = 0
    while (i < encs.length) {
      if (row.isNullAt(i)) out.writeInt(-1)
      else {
        val payload = encs(i)(row.get(i))
        out.writeInt(payload.length)
        out.write(payload)
      }
      i += 1
    }
    bos.toByteArray
  }

  /** Lazy header→rows→trailer stream: COPY consumes while the iterator
    * produces — no partition-sized buffer. */
  private[graft] final class RowStream(rows: Iterator[Row],
      encs: Array[Any => Array[Byte]]) extends InputStream {
    private var cur: Array[Byte] = header
    private var pos = 0
    private var trailed = false
    private def advance(): Boolean = {
      while (cur != null && pos >= cur.length) {
        pos = 0
        cur = if (rows.hasNext) encodeRow(rows.next(), encs)
        else if (!trailed) { trailed = true; trailer }
        else null
      }
      cur != null
    }
    override def read(): Int =
      if (!advance()) -1 else { val b = cur(pos) & 0xff; pos += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (!advance()) -1
      else {
        val n = math.min(len, cur.length - pos)
        System.arraycopy(cur, pos, b, off, n)
        pos += n
        n
      }
  }
}

/** The one table sink — the reference's validated writer (db.rs
  * Db::connect + BinaryCopyInWriter, db.rs:167-177) distributed across
  * executor partitions:
  *
  *  - connect-time validation of the parquet→db column mapping against
  *    the live table schema: every dataframe column must land on an
  *    existing db column, via the optional alias map (`parquet_to_db`)
  *    or by bearing the same name; a missing table, missing column or
  *    unknown alias is an error BEFORE any data moves.
  *  - `jdbc:postgresql:` targets load by per-partition binary `COPY FROM
  *    STDIN` over graft's own protocol-v3 client ([[PgWire]]), with no
  *    driver jar. A column with no PG binary mapping fails loudly: with
  *    no driver jar there is no INSERT path to fall back to, and
  *    silently skipping columns would be worse.
  *  - any other JDBC url loads through Spark's batched-INSERT partition
  *    writer (type binding, NULLs, one transaction per partition).
  *
  * One Spark job per write: every partition returns the rows it loaded
  * (the server's `COPY n`, or the rows the INSERT writer bound) and the
  * driver sums them, so nothing is persisted and nothing is counted
  * twice.
  */
object PgCopySink {

  private val InsertBatchSize = 10000

  private[graft] def isPostgres(url: String): Boolean =
    url.startsWith("jdbc:postgresql:")

  /** Validated append of `df` to `table`; returns the rows loaded.
    *
    * @param sourceFields the ORIGINAL parquet field names, positional
    *   with df's columns — pass when upstream projection renamed
    *   duplicates (desired_fields with repeats), so aliases resolve on
    *   the user's names, not synthesized ones. Duplicate TARGETS are an
    *   error either way (one load cannot set a column twice).
    *
    * Semantics notes (vs the single-socket reference loader):
    *  - at-least-once per partition: each partition loads in its own
    *    committed round trip (an autocommitted COPY, or one INSERT
    *    transaction), so a Spark task retry or speculative duplicate
    *    re-sends that partition. The returned sum is the EXACT input row
    *    count, because Spark keeps only the successful attempt's result;
    *    for the same reason it cannot see a failed attempt's commit. So
    *    write compares the target table's before/after COUNT(*) delta
    *    against it and throws if a retry actually double-loaded. The
    *    delta check assumes this writer is the table's only concurrent
    *    writer. Exactly-once needs a staging table + rename, which a
    *    caller can layer on top.
    *  - timestamps are encoded as the UTC instant (PG binary µs), which
    *    is correct for `timestamptz` targets or UTC server/session
    *    timezones; a PG wall-clock `timestamp` column written from a
    *    non-UTC session observes the session shift. TIMESTAMP_NTZ values
    *    are wall clocks and land unshifted in a `timestamp` column. */
  def write(df: DataFrame, url: String, table: String,
      aliases: Map[String, Option[String]] = Map.empty,
      sourceFields: Option[Seq[String]] = None): Long = {
    val dbCols = tableColumns(url, table)
    if (dbCols.isEmpty)
      throw new IllegalArgumentException(s"table '$table' does not exist in connected db")
    val originals = sourceFields.getOrElse(df.columns.toSeq)
    require(originals.length == df.columns.length,
      s"sourceFields size ${originals.length} != dataframe width ${df.columns.length}")
    val targets = resolveColumns(originals, dbCols, aliases)
    require(targets.distinct.length == targets.length,
      s"duplicate target column(s): ${targets.diff(targets.distinct).distinct.mkString(", ")}")
    val renamed = df.select(df.columns.toSeq.zip(targets)
      .map { case (c, t) => col(c).as(t) }: _*)

    val load: Iterator[Row] => Long =
      if (isPostgres(url)) copyLoader(PgWire.parse(url), table, renamed.schema)
      else insertLoader(url, table, renamed.schema)
    val before = tableCount(url, table)
    val loaded = renamed.rdd.mapPartitions(rows => Iterator(load(rows))).collect().sum
    val landed = tableCount(url, table) - before
    if (landed != loaded)
      throw new IllegalStateException(
        s"load landed $landed rows for $loaded inputs — a task retry or " +
          "speculative duplicate re-sent a partition (per-partition loads " +
          "are at-least-once); de-duplicate the target or reload through " +
          "a staging table")
    loaded
  }

  /** Resolve the dataframe→db column names through the alias map and
    * fail fast on anything that doesn't land on a real column. */
  private def resolveColumns(dfCols: Seq[String], dbCols: Seq[String],
      aliases: Map[String, Option[String]]): Seq[String] = {
    val dbSet = dbCols.toSet
    dfCols.map { c =>
      val target = aliases.get(c).flatten.getOrElse(c)
      if (aliases.get(c).flatten.isDefined && !dbSet.contains(target.toLowerCase))
        throw new IllegalArgumentException(
          s"alias '$target' for parquet field '$c' is not a column of the target table")
      if (!dbSet.contains(target.toLowerCase))
        throw new IllegalArgumentException(
          s"parquet field '$c' has no alias and no same-named column in the target table")
      target
    }
  }

  /** One partition → one binary COPY on its own connection; returns the
    * server's `COPY n`. Empty partitions open no connection. */
  private def copyLoader(t: PgWire.Target, table: String,
      schema: StructType): Iterator[Row] => Long = {
    val encs = schema.fields.map(f => PgBinaryCopy.fieldEncoder(f.dataType).getOrElse(
      throw new IllegalArgumentException(
        s"column '${f.name}': ${f.dataType.simpleString} has no PG binary " +
          "mapping — project it away or load through a jdbc driver")))
    val colList = schema.fieldNames.map(c => s""""$c"""").mkString(", ")
    val copySql = s"COPY $table ($colList) FROM STDIN WITH (FORMAT binary)"
    rows =>
      if (!rows.hasNext) 0L
      else {
        val conn = PgWire.connect(t)
        try conn.copyIn(copySql, new PgBinaryCopy.RowStream(rows, encs))
        finally conn.close()
      }
  }

  /** One partition → Spark's batched INSERTs in one transaction; returns
    * the rows it bound. The statement names the table's own columns
    * (Derby and others fold unquoted names to upper case, and the
    * insert quotes what it is given). */
  private def insertLoader(url: String, table: String,
      schema: StructType): Iterator[Row] => Long = {
    val opts = new JdbcOptionsInWrite(url, table, Map.empty[String, String])
    val dialect = JdbcDialects.get(url)
    val insert = JdbcUtils.getInsertStatement(table, schema,
      jdbcTableSchema(url, table), false, dialect)
    rows => {
      var n = 0L
      JdbcUtils.savePartition(table, rows.map { r => n += 1; r }, schema, insert,
        InsertBatchSize, dialect, opts.isolationLevel, opts)
      n
    }
  }

  /** Lower-cased columns of `table` in ordinal order; empty when the
    * table does not exist. */
  private[graft] def tableColumns(url: String, table: String): Seq[String] =
    if (isPostgres(url)) pgTableColumns(PgWire.parse(url), table)
    else jdbcTableSchema(url, table).toSeq.flatMap(_.fieldNames.map(_.toLowerCase))

  /** The schema of `SELECT * FROM table WHERE 1=0` — the same name
    * resolution the INSERT itself gets, so there is no metadata search
    * pattern to escape. */
  private def jdbcTableSchema(url: String, table: String): Option[StructType] = {
    val conn = DriverManager.getConnection(url)
    try JdbcUtils.getSchemaOption(conn,
      new JdbcOptionsInWrite(url, table, Map.empty[String, String]))
    finally conn.close()
  }

  /** Columns of a Postgres `table` via the wire client (PG folds
    * unquoted identifiers to lower case, so the lookup key is the
    * lower-cased name). information_schema is a plain query: no
    * metadata API, no search-pattern escaping hazard. */
  private def pgTableColumns(t: PgWire.Target, table: String): Seq[String] = {
    // a schema-qualified target ('etl.orders') must be looked up as
    // (table_schema='etl', table_name='orders') — querying
    // table_name='etl.orders' in current_schema() finds nothing and
    // write() would abort on a table COPY itself accepts
    val (schemaPred, rel) = table.indexOf('.') match {
      case -1 => ("current_schema()", table)
      case i =>
        val s = table.take(i).toLowerCase.replace("'", "''")
        (s"'$s'", table.drop(i + 1))
    }
    val esc = rel.toLowerCase.replace("'", "''")
    val conn = PgWire.connect(t)
    try conn.query(
      "SELECT column_name FROM information_schema.columns " +
        s"WHERE table_schema = $schemaPred AND table_name = '$esc' " +
        "ORDER BY ordinal_position")._2.map(_(0).toLowerCase)
    finally conn.close()
  }

  /** COUNT(*) of the target table — the before/after delta is the only
    * retry-duplication signal visible from the driver. */
  private def tableCount(url: String, table: String): Long = {
    val sql = s"SELECT COUNT(*) FROM $table"
    if (isPostgres(url)) {
      val conn = PgWire.connect(PgWire.parse(url))
      try conn.query(sql)._2.head(0).toLong
      finally conn.close()
    } else {
      val conn = DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement().executeQuery(sql)
        rs.next(); rs.getLong(1)
      } finally conn.close()
    }
  }
}
