package graft.sinks

import java.io.InputStream
import java.math.BigInteger
import java.sql.DriverManager
import java.util.concurrent.{ArrayBlockingQueue, Callable, ExecutionException, Executors, Future, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.datasources.jdbc.{JdbcOptionsInWrite, JdbcUtils}
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** PGCOPY binary encoder — the wire format `COPY ... FROM STDIN WITH
  * (FORMAT binary)` consumes (PostgreSQL docs, "Binary Format"; the
  * reference loads through exactly this path via BinaryCopyInWriter,
  * src/db.rs:8,167-177):
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
  *
  * Each column gets one [[FieldWriter]], chosen once per schema, that
  * copies Spark's internal value out of an `InternalRow` straight into a
  * reusable [[CopyBuffer]]. Spark's day and µs counts are proleptic
  * Gregorian, the calendar PG uses, so they only need the epoch shift.
  * The `Row`-based `fieldEncoder`/`encodeRow`/[[RowStream]] are adapters
  * over the same writers.
  */
object PgBinaryCopy {

  /** Epoch shifts: PG binary day/µs counts are relative to 2000-01-01. */
  private val PgEpochDays = 10957
  private val PgEpochUs = 946684800000000L

  val header: Array[Byte] =
    Array[Byte]('P', 'G', 'C', 'O', 'P', 'Y', '\n', 0xff.toByte, '\r', '\n', 0) ++
      new Array[Byte](8) // int32 flags (no OIDs), int32 header extension length

  val trailer: Array[Byte] = Array[Byte](0xff.toByte, 0xff.toByte)

  /** Growable big-endian byte buffer the writers append to. */
  private[graft] final class CopyBuffer(initial: Int) {
    private[sinks] var bytes = new Array[Byte](initial)
    private[sinks] var size = 0

    private def ensure(n: Int): Unit =
      if (size + n > bytes.length)
        bytes = java.util.Arrays.copyOf(bytes, math.max(bytes.length * 2, size + n))

    def reset(): Unit = size = 0
    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(bytes, size)

    def shortAt(at: Int): Int = ((bytes(at) & 0xff) << 8) | (bytes(at + 1) & 0xff)
    def putShort(at: Int, v: Int): Unit = { bytes(at) = (v >>> 8).toByte; bytes(at + 1) = v.toByte }
    def putInt(at: Int, v: Int): Unit = { putShort(at, v >>> 16); putShort(at + 2, v) }

    def writeByte(v: Int): Unit = { ensure(1); bytes(size) = v.toByte; size += 1 }
    def writeShort(v: Int): Unit = { ensure(2); putShort(size, v); size += 2 }
    def writeInt(v: Int): Unit = { ensure(4); putInt(size, v); size += 4 }
    def writeLong(v: Long): Unit = {
      ensure(8); putInt(size, (v >>> 32).toInt); putInt(size + 4, v.toInt); size += 8
    }
    def write(b: Array[Byte], off: Int, len: Int): Unit = {
      ensure(len); System.arraycopy(b, off, bytes, size, len); size += len
    }
    def writeUtf8(s: UTF8String): Unit = {
      val n = s.numBytes
      ensure(n); s.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + size); size += n
    }
    /** Appends `len` bytes read at (`base`, `offset`), Spark's address
      * of a value inside an `UnsafeRow`. */
    def writeMemory(base: AnyRef, offset: Long, len: Int): Unit = {
      ensure(len)
      Platform.copyMemory(base, offset, bytes, Platform.BYTE_ARRAY_OFFSET + size, len)
      size += len
    }

    /** Reverses the order of the int16s in [from, until). */
    def reverseShorts(from: Int, until: Int): Unit = {
      var i = from
      var j = until - 2
      while (i < j) {
        val v = shortAt(i); putShort(i, shortAt(j)); putShort(j, v)
        i += 2; j -= 2
      }
    }
  }

  /** Appends one non-NULL field, int32 length then payload, read from
    * `row` at `ordinal` in Spark's internal representation. */
  private[graft] trait FieldWriter extends Serializable {
    def write(out: CopyBuffer, row: InternalRow, ordinal: Int): Unit
  }

  /** The writer for a Spark type, or None if the type has no PG binary
    * mapping. */
  private[graft] def fieldWriter(dt: DataType): Option[FieldWriter] = Option(dt match {
    case BooleanType => (o, r, i) => { o.writeInt(1); o.writeByte(if (r.getBoolean(i)) 1 else 0) }
    case ByteType    => (o, r, i) => { o.writeInt(2); o.writeShort(r.getByte(i)) }
    case ShortType   => (o, r, i) => { o.writeInt(2); o.writeShort(r.getShort(i)) }
    case IntegerType => (o, r, i) => { o.writeInt(4); o.writeInt(r.getInt(i)) }
    case LongType    => (o, r, i) => { o.writeInt(8); o.writeLong(r.getLong(i)) }
    case FloatType   => (o, r, i) =>
      { o.writeInt(4); o.writeInt(java.lang.Float.floatToIntBits(r.getFloat(i))) }
    case DoubleType  => (o, r, i) =>
      { o.writeInt(8); o.writeLong(java.lang.Double.doubleToLongBits(r.getDouble(i))) }
    case StringType  => (o, r, i) => r match {
      case u: UnsafeRow => writeVarLen(o, u, i)
      case _ => val s = r.getUTF8String(i); o.writeInt(s.numBytes); o.writeUtf8(s)
    }
    case BinaryType  => (o, r, i) => r match {
      case u: UnsafeRow => writeVarLen(o, u, i)
      case _ => val b = r.getBinary(i); o.writeInt(b.length); o.write(b, 0, b.length)
    }
    case DateType    => (o, r, i) => { o.writeInt(4); o.writeInt(r.getInt(i) - PgEpochDays) }
    // a TIMESTAMP_NTZ is a wall clock counted as if UTC, so it lands
    // unshifted in a PG `timestamp` column
    case TimestampType | TimestampNTZType => (o, r, i) =>
      { o.writeInt(8); o.writeLong(r.getLong(i) - PgEpochUs) }
    case d: DecimalType =>
      val (p, s) = (d.precision, d.scale)
      (o, r, i) => writeNumeric(o, r.getDecimal(i, p, s))
    case _ => null
  })

  /** A string or binary field of an `UnsafeRow`, copied straight from
    * the row's memory: its fixed slot holds the value's offset (high 32
    * bits) and size (low 32 bits), so no `UTF8String` or `byte[]` is
    * made per value. */
  private def writeVarLen(out: CopyBuffer, row: UnsafeRow, i: Int): Unit = {
    val offsetAndSize = row.getLong(i)
    val n = offsetAndSize.toInt
    out.writeInt(n)
    out.writeMemory(row.getBaseObject, row.getBaseOffset + (offsetAndSize >> 32), n)
  }

  /** One tuple: int16 field count, then per field -1 for NULL or the
    * column writer's length and payload. */
  private[graft] def writeRow(out: CopyBuffer, row: InternalRow,
      writers: Array[FieldWriter]): Unit = {
    out.writeShort(writers.length)
    var i = 0
    while (i < writers.length) {
      if (row.isNullAt(i)) out.writeInt(-1) else writers(i).write(out, row, i)
      i += 1
    }
  }

  private def writeNumeric(out: CopyBuffer, d: Decimal): Unit =
    if (d.precision <= Decimal.MAX_LONG_DIGITS && d.scale >= 0) {
      val u = d.toUnscaledLong
      writeNumeric(out, u < 0, math.abs(u), null, d.scale)
    } else writeNumeric(out, d.toJavaBigDecimal)

  private def writeNumeric(out: CopyBuffer, d: java.math.BigDecimal): Unit =
    writeNumeric(out, d.signum < 0, 0L, d.unscaledValue.abs, d.scale)

  private val Pow10 = Array(1L, 10L, 100L, 1000L)
  private val TenK = BigInteger.valueOf(10000)

  /** `numeric` field for ±magnitude·10^-scale, the magnitude given as
    * `mag` when `bigMag` is null (then scale ≥ 0): int32 length, int16
    * ndigits, weight, sign, dscale, then base-10000 digits most
    * significant first, normalised (no leading or trailing zero digit;
    * zero has none and weight 0). The digits are those of the magnitude
    * rescaled to `pad`, the scale rounded up to a multiple of 4, so that
    * they align with the decimal point; they are appended least
    * significant first and then reversed in place. */
  private def writeNumeric(out: CopyBuffer, negative: Boolean, mag: Long,
      bigMag: BigInteger, scale: Int): Unit = {
    val dscale = math.max(scale, 0)
    val pad = (dscale + 3) / 4 * 4
    val start = out.size
    out.writeInt(0) // length, patched below
    out.writeInt(0) // ndigits and weight, patched below
    out.writeShort(if (negative) 0x4000 else 0)
    out.writeShort(dscale)
    val digits = out.size
    if (bigMag != null) {
      var v = bigMag.multiply(BigInteger.TEN.pow(pad - scale))
      while (v.signum != 0) {
        val qr = v.divideAndRemainder(TenK)
        out.writeShort(qr(1).intValue); v = qr(0)
      }
    } else {
      // the lowest group is the low 4-shift digits times 10^shift, so
      // mag·10^shift never has to fit in a Long
      var v = mag
      val shift = pad - scale
      if (shift > 0) {
        out.writeShort(((v % Pow10(4 - shift)) * Pow10(shift)).toInt)
        v /= Pow10(4 - shift)
      }
      while (v != 0) { out.writeShort((v % 10000).toInt); v /= 10000 }
    }
    val groups = (out.size - digits) / 2
    out.reverseShorts(digits, out.size)
    while (out.size > digits && out.shortAt(out.size - 2) == 0) out.size -= 2
    val ndigits = (out.size - digits) / 2
    out.putInt(start, out.size - start - 4)
    out.putShort(start + 4, ndigits)
    out.putShort(start + 6, if (ndigits == 0) 0 else groups - 1 - pad / 4)
  }

  /** header → tuples → trailer as a lazily encoded stream: COPY consumes
    * while the rows are produced, with no partition-sized buffer. A read
    * fills the caller's buffer (tuples straddle read boundaries), so a
    * 64 KiB read is one 64 KiB CopyData frame. */
  private[graft] abstract class TupleStream extends InputStream {
    /** Appends the next tuple to `out`; false once the rows are exhausted. */
    protected def nextTuple(out: CopyBuffer): Boolean

    private val buf = new CopyBuffer(1 << 12)
    buf.write(header, 0, header.length)
    private var pos = 0
    private var trailed = false

    /** Replaces the drained buffer with the next tuple, or the trailer;
      * false at the end of the stream. */
    private def refill(): Boolean = {
      buf.reset(); pos = 0
      nextTuple(buf) || (!trailed && { trailed = true; buf.write(trailer, 0, 2); true })
    }

    override def read(): Int =
      if (pos == buf.size && !refill()) -1
      else { val b = buf.bytes(pos) & 0xff; pos += 1; b }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      var n = 0
      while (n < len && (pos < buf.size || refill())) {
        val k = math.min(len - n, buf.size - pos)
        System.arraycopy(buf.bytes, pos, b, off + n, k)
        pos += k; n += k
      }
      if (n == 0 && len > 0) -1 else n
    }
  }

  /** The sink's stream over Spark's internal rows. Each row is encoded as
    * soon as it is pulled and never kept: `toRdd` iterators reuse one
    * `UnsafeRow`. */
  private[graft] final class InternalRowStream(rows: Iterator[InternalRow],
      writers: Array[FieldWriter]) extends TupleStream {
    protected def nextTuple(out: CopyBuffer): Boolean =
      rows.hasNext && { writeRow(out, rows.next(), writers); true }
  }

  // ---- adapters over external Rows, on the same writers ----------------

  /** PG `numeric` binary body (no length prefix) of `d` at its own scale. */
  private[graft] def encodeNumeric(d: java.math.BigDecimal): Array[Byte] = {
    val out = new CopyBuffer(32)
    writeNumeric(out, d)
    java.util.Arrays.copyOfRange(out.bytes, 4, out.size)
  }

  /** Payload encoder (no length prefix) for external values of a Spark
    * type, or None if the type has no PG binary mapping. */
  private[graft] def fieldEncoder(dt: DataType): Option[Any => Array[Byte]] =
    fieldWriter(dt).map { w =>
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
      v => {
        val out = new CopyBuffer(16)
        w.write(out, new GenericInternalRow(Array(toCatalyst(v))), 0)
        java.util.Arrays.copyOfRange(out.bytes, 4, out.size)
      }
    }

  /** Encode one tuple of an external Row. */
  private[graft] def encodeRow(row: Row, encs: Array[Any => Array[Byte]]): Array[Byte] = {
    val out = new CopyBuffer(64)
    out.writeShort(encs.length)
    var i = 0
    while (i < encs.length) {
      if (row.isNullAt(i)) out.writeInt(-1)
      else { val p = encs(i)(row.get(i)); out.writeInt(p.length); out.write(p, 0, p.length) }
      i += 1
    }
    out.toByteArray
  }

  /** [[TupleStream]] over external Rows. */
  private[graft] final class RowStream(rows: Iterator[Row],
      encs: Array[Any => Array[Byte]]) extends TupleStream {
    protected def nextTuple(out: CopyBuffer): Boolean = rows.hasNext && {
      val t = encodeRow(rows.next(), encs); out.write(t, 0, t.length); true
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
  *    unknown alias is an error BEFORE any data moves. One driver
  *    session per write reads the table's columns, resolved by the
  *    server as the load itself resolves the name, and serves both
  *    `COUNT(*)`s of the delta check.
  *  - `jdbc:postgresql:` targets load by binary `COPY FROM STDIN` over
  *    graft's own protocol-v3 client ([[PgWire]]), with no driver jar:
  *    each partition over one or more COPY streams (see
  *    `PartitionCopy`), which read the plan's `InternalRow`s
  *    (`queryExecution.toRdd`) and encode them in 64 KiB CopyData
  *    frames. A column with no PG binary mapping fails loudly: with
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
    *  - at-least-once per partition: each partition commits on its own
    *    (one INSERT transaction, or its COPY streams' transactions once
    *    all of its COPYs have ended), so a Spark task retry or
    *    speculative duplicate re-sends that partition. A partition's
    *    streams commit in sequence, so a failure during `COMMIT` (a
    *    dropped connection, a crashed backend) can land part of it; the
    *    retry then re-sends all of it. The returned sum
    *    is the EXACT input row count, because Spark keeps only the
    *    successful attempt's result; for the same reason it cannot see
    *    a failed attempt's commit. So write compares the target table's
    *    before/after COUNT(*) delta against it and throws if a retry
    *    actually double-loaded. The
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
    val target = session(url, table)
    try {
      val dbCols = target.columns()
      if (dbCols.isEmpty)
        throw new IllegalArgumentException(s"table '$table' does not exist in connected db")
      val originals = sourceFields.getOrElse(df.columns.toSeq)
      require(originals.length == df.columns.length,
        s"sourceFields size ${originals.length} != dataframe width ${df.columns.length}")
      val targets = resolveColumns(originals, dbCols, aliases)
      require(targets.distinct.length == targets.length,
        s"duplicate target column(s): ${targets.diff(targets.distinct).distinct.mkString(", ")}")
      val schema = StructType(df.schema.fields.zip(targets).map { case (f, t) => f.copy(name = t) })

      val before = target.count()
      val loaded =
        if (isPostgres(url)) {
          val sc = df.sparkSession.sparkContext
          val slots = if (target.rowsMayWait()) 1 else taskSlots(sc.master, sc.getConf)
          val load = copyLoader(PgWire.parse(url), table, schema, slots)
          df.queryExecution.toRdd.mapPartitions(rows => Iterator(load(rows))).collect().sum
        } else {
          val load = insertLoader(url, table, schema)
          df.rdd.mapPartitions(rows => Iterator(load(rows))).collect().sum
        }
      val landed = target.count() - before
      if (landed != loaded)
        throw new IllegalStateException(
          s"load landed $landed rows for $loaded inputs — a task retry or " +
            "speculative duplicate re-sent a partition (per-partition loads " +
            "are at-least-once); de-duplicate the target or reload through " +
            "a staging table")
      loaded
    } finally target.close()
  }

  /** Resolve the dataframe→db column names through the alias map to the
    * catalog's spelling of each column — an exact match, else the one
    * case-insensitive match — and fail fast on anything that doesn't
    * land on exactly one real column. */
  private def resolveColumns(dfCols: Seq[String], dbCols: Seq[String],
      aliases: Map[String, Option[String]]): Seq[String] = {
    def column(name: String): Option[String] =
      if (dbCols.contains(name)) Some(name)
      else dbCols.filter(_.equalsIgnoreCase(name)) match {
        case Seq() => None
        case Seq(c) => Some(c)
        case cs => throw new IllegalArgumentException(
          s"'$name' matches columns ${cs.mkString("'", "' and '", "'")} of the " +
            "target table only by case; name one of them exactly")
      }
    dfCols.map { c =>
      aliases.get(c).flatten match {
        case Some(alias) => column(alias).getOrElse(throw new IllegalArgumentException(
          s"alias '$alias' for parquet field '$c' is not a column of the target table"))
        case None => column(c).getOrElse(throw new IllegalArgumentException(
          s"parquet field '$c' has no alias and no same-named column in the target table"))
      }
    }
  }

  /** One partition → binary COPY over one or more streams, each on its
    * own connection; returns the sum of the servers' `COPY n`. Empty
    * partitions open no connection. */
  private def copyLoader(t: PgWire.Target, table: String, schema: StructType,
      slots: Int): Iterator[InternalRow] => Long = {
    val writers = schema.fields.map(f => PgBinaryCopy.fieldWriter(f.dataType).getOrElse(
      throw new IllegalArgumentException(
        s"column '${f.name}': ${f.dataType.simpleString} has no PG binary " +
          "mapping — project it away or load through a jdbc driver")))
    val colList = schema.fieldNames.map(c => "\"" + c.replace("\"", "\"\"") + "\"").mkString(", ")
    val copySql = s"COPY $table ($colList) FROM STDIN WITH (FORMAT binary)"
    rows =>
      if (!rows.hasNext) 0L
      else new PartitionCopy(t, copySql, schema, writers, slots).load(rows)
  }

  /** Task slots of one executor, read on the driver: `local[N]` gives N
    * (`local[*]` the machine's cores), `local-cluster[n,c,m]` c, any
    * other master `spark.executor.cores`; each divided by
    * `spark.task.cpus`. With `spark.executor.cores` unset (a standalone
    * executor then takes all of its worker's cores) this reads 1 slot,
    * so partitions load over one stream each. */
  private[sinks] def taskSlots(master: String, conf: SparkConf): Int = {
    val LocalN = """local\[(\d+|\*)(?:,\s*\d+)?\]""".r
    val LocalCluster = """local-cluster\[\s*\d+\s*,\s*(\d+)\s*,\s*\d+\s*\]""".r
    val cores = master match {
      case "local" => 1
      case LocalN("*") => Runtime.getRuntime.availableProcessors
      case LocalN(n) => n.toInt
      case LocalCluster(c) => c.toInt
      case _ => conf.getInt("spark.executor.cores", 1)
    }
    math.max(1, cores / conf.getInt("spark.task.cpus", 1))
  }

  /** Open COPY connections of this JVM, over all partitions loading in it. */
  private val openCopies = new AtomicInteger()

  /** Bytes of `UnsafeRow`s in one chunk: whole rows, each behind an
    * 8-byte size. A row larger than this gets a chunk of its own size. */
  private val ChunkBytes = 1 << 16
  /** Filled chunks waiting for a stream. */
  private val QueueChunks = 8
  /** Row bytes a partition must have produced before it may add a
    * stream. A new backend costs one connect, startup and `BEGIN`:
    * 3.1 ms median on a local Postgres 15 (unix socket, trust auth,
    * 4-core host). One backend ingests about 120 MB/s, so 4 MiB is
    * about 35 ms of one stream's work, and a partition that stops
    * short of it never pays for a backend it cannot use. */
  private val FanOutFloor = 4L << 20

  private final class Chunk(var bytes: Array[Byte]) { var size = 0 }
  private val Eof = new Chunk(Array.emptyByteArray)

  /** One partition's load. The task thread is the producer: it copies
    * each row's `UnsafeRow` bytes into tuple-aligned chunks on a bounded
    * queue. Each stream runs on its own daemon thread and connection:
    * `BEGIN`, then a binary COPY of the chunks' rows, read back through
    * one reused `UnsafeRow` and encoded by [[PgBinaryCopy.InternalRowStream]].
    * The partition starts with one stream and adds one when the queue
    * is full (the server is the bottleneck), the partition has produced
    * [[FanOutFloor]] bytes and this JVM holds fewer COPY connections
    * than its task slots.
    *
    * The streams `COMMIT` only after every COPY of the partition has
    * ended. Any failure before then — a stream's server error, the
    * producer's, an interrupt — ends every stream's COPY with CopyFail,
    * closes its connection (which rolls its transaction back) and
    * rethrows the first error. The `COMMIT`s themselves run one after
    * another, so one failing there leaves the streams before it
    * committed. Streams are separate transactions, so a row of one
    * that waits on another's uncommitted row (a unique or exclusion
    * index, a trigger) would wait on a `COMMIT` that never comes: the
    * write gives such targets `slots` = 1, one stream per partition.
    * Chunks are recycled: at most `QueueChunks` + streams + 1 exist. */
  private final class PartitionCopy(t: PgWire.Target, copySql: String,
      schema: StructType, writers: Array[PgBinaryCopy.FieldWriter], slots: Int) {
    private val queue = new ArrayBlockingQueue[Chunk](QueueChunks)
    private val free = new ArrayBlockingQueue[Chunk](QueueChunks + slots + 1)
    private var allocated = 0
    private var produced = 0L
    private val failure = new AtomicReference[Throwable]
    private val streams = ArrayBuffer.empty[Future[(PgWireConn, Long)]]
    private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
      val th = new Thread(r, "pgcopy-stream"); th.setDaemon(true); th
    }

    private def fail(e: Throwable): Unit = { failure.compareAndSet(null, e); () }
    /** Ends the caller's part of the load once another part has failed;
      * `load` rethrows the first error, not this one. */
    private def checkFailed(): Unit =
      if (failure.get != null) throw new IllegalStateException("partition load aborted")

    def load(rows: Iterator[InternalRow]): Long = try {
      produce(rows)
      val copied = streams.map(_.get())
      copied.foreach(_._1.exec("COMMIT"))
      copied.map(_._2).sum
    } catch {
      case e: Throwable =>
        fail(e match { case x: ExecutionException => x.getCause; case _ => e })
        throw failure.get
    } finally close()

    /** Waits for every stream (interrupting them if this thread is
      * interrupted), closes the connections of those that finished their
      * COPY — after `COMMIT`, or instead of it — and releases the
      * partition's connection reservations. A failed stream has closed
      * its own connection. */
    private def close(): Unit = {
      pool.shutdown()
      var interrupted = false
      while (!pool.isTerminated)
        try pool.awaitTermination(1, TimeUnit.SECONDS)
        catch { case _: InterruptedException => interrupted = true; pool.shutdownNow() }
      streams.foreach(f => try f.get()._1.close() catch { case _: ExecutionException => () })
      openCopies.addAndGet(-streams.size)
      if (interrupted) Thread.currentThread.interrupt()
    }

    private def startStream(): Unit =
      streams += pool.submit(new Callable[(PgWireConn, Long)] {
        def call(): (PgWireConn, Long) = {
          var conn: PgWireConn = null
          try {
            conn = PgWire.connect(t)
            conn.exec("BEGIN")
            (conn, conn.copyIn(copySql, new PgBinaryCopy.InternalRowStream(new ChunkRows, writers)))
          } catch {
            case e: Throwable =>
              fail(e)
              if (conn != null) conn.close()
              throw e
          }
        }
      })

    private def produce(rows: Iterator[InternalRow]): Unit = {
      openCopies.incrementAndGet()
      startStream()
      var project: UnsafeProjection = null
      var chunk = freeChunk()
      while (rows.hasNext) {
        val row = rows.next() match {
          case u: UnsafeRow => u
          case r =>
            if (project == null) project = UnsafeProjection.create(schema)
            project(r)
        }
        val n = row.getSizeInBytes
        if (chunk.size + 8 + n > chunk.bytes.length) {
          if (chunk.size > 0) { send(chunk); chunk = freeChunk() }
          if (8 + n > chunk.bytes.length) chunk.bytes = new Array[Byte](8 + n)
        }
        val at = Platform.BYTE_ARRAY_OFFSET + chunk.size
        Platform.putLong(chunk.bytes, at, n)
        row.writeToMemory(chunk.bytes, at + 8)
        chunk.size += 8 + n
      }
      if (chunk.size > 0) send(chunk)
      streams.foreach(_ => put(Eof))
    }

    /** Queues a full chunk; on a full queue, first adds a stream if the
      * partition may. */
    private def send(c: Chunk): Unit = {
      produced += c.size
      if (!queue.offer(c)) {
        if (produced >= FanOutFloor && reserveConnection()) startStream()
        put(c)
      }
      checkFailed()
    }

    private def put(c: Chunk): Unit =
      while (!queue.offer(c, 10, TimeUnit.MILLISECONDS)) checkFailed()

    private def reserveConnection(): Boolean = {
      val open = openCopies.get
      open < slots && openCopies.compareAndSet(open, open + 1)
    }

    private def freeChunk(): Chunk = {
      var c = free.poll()
      if (c == null) {
        if (allocated < QueueChunks + streams.size + 1) {
          allocated += 1
          c = new Chunk(new Array[Byte](ChunkBytes))
        } else while ({ c = free.poll(10, TimeUnit.MILLISECONDS); c == null }) checkFailed()
      }
      c.size = 0
      c
    }

    /** A stream's rows: the queued chunks' rows, each read through one
      * reused `UnsafeRow` pointed into the chunk. */
    private final class ChunkRows extends Iterator[InternalRow] {
      private val row = new UnsafeRow(schema.length)
      private var chunk: Chunk = null
      private var pos = 0

      def hasNext: Boolean = {
        while (chunk == null || (pos == chunk.size && (chunk ne Eof))) {
          if (chunk != null) free.offer(chunk)
          chunk = null
          while (chunk == null) { checkFailed(); chunk = queue.poll(10, TimeUnit.MILLISECONDS) }
          pos = 0
        }
        chunk ne Eof
      }

      def next(): InternalRow = {
        val at = Platform.BYTE_ARRAY_OFFSET + pos
        val n = Platform.getLong(chunk.bytes, at).toInt
        row.pointTo(chunk.bytes, at + 8, n)
        pos += 8 + n
        row
      }
    }
  }

  /** One partition → Spark's batched INSERTs in one transaction; returns
    * the rows it bound. `schema` carries the catalog's column names,
    * which the statement quotes as given (Derby and others fold
    * unquoted names to upper case). */
  private def insertLoader(url: String, table: String,
      schema: StructType): Iterator[Row] => Long = {
    val opts = new JdbcOptionsInWrite(url, table, Map.empty[String, String])
    val dialect = JdbcDialects.get(url)
    val insert = JdbcUtils.getInsertStatement(table, schema, None, false, dialect)
    rows => {
      var n = 0L
      JdbcUtils.savePartition(table, rows.map { r => n += 1; r }, schema, insert,
        InsertBatchSize, dialect, opts.isolationLevel, opts)
      n
    }
  }

  /** Columns of `table` as its catalog spells them, in ordinal order;
    * empty when the table does not exist. */
  private[graft] def tableColumns(url: String, table: String): Seq[String] = {
    val target = session(url, table)
    try target.columns() finally target.close()
  }

  /** The driver's one connection for a write: it reads the target's
    * columns and serves the before/after `COUNT(*)`, the only
    * retry-duplication signal visible from the driver. */
  private trait TargetSession extends AutoCloseable {
    /** Catalog spelling, ordinal order; empty for no such table. */
    def columns(): Seq[String]
    /** Whether a loaded row may wait on another transaction's
      * uncommitted row: the table, or a table under it, has a unique or
      * exclusion index (primary keys and deferrable constraints
      * included) or a user trigger. */
    def rowsMayWait(): Boolean
    def count(): Long
  }

  private def session(url: String, table: String): TargetSession = {
    val countSql = s"SELECT COUNT(*) FROM $table"
    if (isPostgres(url)) {
      val conn = PgWire.connect(PgWire.parse(url))
      new TargetSession {
        // to_regclass resolves the name as written (quotes, schema,
        // search_path) the way COPY will, and is NULL for no such table
        private val regclass = s"to_regclass('${table.replace("'", "''")}')"
        def columns(): Seq[String] = conn.query("SELECT attname FROM pg_attribute " +
          s"WHERE attrelid = $regclass " +
          "AND attnum > 0 AND NOT attisdropped ORDER BY attnum")._2.map(_(0))
        def rowsMayWait(): Boolean = conn.query(
          s"WITH RECURSIVE t(r) AS (SELECT $regclass::oid " +
            "UNION SELECT inhrelid FROM pg_inherits JOIN t ON inhparent = r) " +
            "SELECT EXISTS (SELECT 1 FROM pg_index JOIN t ON indrelid = r " +
            "WHERE indisunique OR indisexclusion) " +
            "OR EXISTS (SELECT 1 FROM pg_trigger JOIN t ON tgrelid = r WHERE NOT tgisinternal)")
          ._2.head(0) == "t"
        def count(): Long = conn.query(countSql)._2.head(0).toLong
        def close(): Unit = conn.close()
      }
    } else {
      val conn = DriverManager.getConnection(url)
      new TargetSession {
        // the schema of `SELECT * FROM table WHERE 1=0`: the same name
        // resolution the INSERT itself gets
        def columns(): Seq[String] = JdbcUtils.getSchemaOption(conn,
          new JdbcOptionsInWrite(url, table, Map.empty[String, String]))
          .toSeq.flatMap(_.fieldNames)
        // the INSERT arm loads each partition in one transaction
        def rowsMayWait(): Boolean = true
        def count(): Long = {
          val st = conn.createStatement()
          try { val rs = st.executeQuery(countSql); rs.next(); rs.getLong(1) }
          finally st.close()
        }
        def close(): Unit = conn.close()
      }
    }
  }
}
