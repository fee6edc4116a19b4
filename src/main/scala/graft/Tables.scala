package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.graftParquetShim
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Table loader for the driver-generated TPC-H-ish testdata.
  *
  * Mirrors the reference's parquet ingestion surface
  * (reference: src/parquet_ops.rs:16-55) as a plain multi-path Spark
  * parquet scan: column pruning and predicate pushdown are delegated to
  * Catalyst/the parquet DataSource rather than hand-rolled row readers.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** What one open of `$dir/$name.parquet` learns: the schema
    * `spark.read.parquet` infers, read from the footer on the driver
    * where [[graftParquetShim.inferSchema]] covers the layout (a plain
    * file), else by Spark's own inference. Valid while the table's
    * [[SourceKey]] and the session's inference settings stay as they
    * were. The row count is read from the footers on the first
    * [[footerRowCount]] and kept with the entry. */
  private[graft] final case class Opened(key: Long, settings: graftParquetShim.Settings,
      schema: StructType) {
    @volatile private[graft] var rows: Option[Long] = None
  }

  /** One entry per (dir, name), replaced when its key or settings
    * change, so a regenerated table (the ScaleUp/amp scratch dirs)
    * re-opens and leaves no stale entry behind. It holds no DataFrame
    * and so pins no session: [[t]] builds a frame per call from the
    * memoized schema. An open through `spark.read.parquet` infers the
    * schema in a one-task Spark job; Preflight plus registerViews ran
    * 20 of them, and on perfbench's `read_side` (sf0.1, local[4],
    * 4 cores) the set-up's program share fell from 3.30 to 1.21 s
    * without them (medians of 10 runs). */
  private val opened =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Opened]()

  private def open(spark: SparkSession, dir: String, name: String): Opened = {
    val key = SourceKey.of(dir, name)
    val settings = graftParquetShim.settings(spark)
    opened.compute((dir, name), (_, e) =>
      if (e != null && e.key == key && e.settings == settings) e
      else {
        val path = s"$dir/$name.parquet"
        Opened(key, settings, graftParquetShim.inferSchema(spark, Seq(path))
          .getOrElse(spark.read.parquet(path).schema))
      })
  }

  /** The memo entries under `dir`, by table name, for specs. */
  private[graft] def openedAt(dir: String): Map[String, Opened] =
    opened.entrySet.asScala.collect { case e if e.getKey._1 == dir => e.getKey._2 -> e.getValue }.toMap

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(open(spark, dir, name).schema).parquet(s"$dir/$name.parquet")

  /** Register every testdata table as a temp view so the whole surface
    * is reachable from `spark.sql(...)` as well as the DataFrame API.
    * Memoized per (session, dir): the views are session-global state
    * anyway, so only a DIFFERENT dir (the ScaleUp x1/xR alternation)
    * re-binds. The footers come from the [[open]] memo, so registering
    * runs no Spark job. */
  private val viewsRegistered = java.util.Collections.synchronizedMap(
    // weak keys, so the memo itself pins no session. They free only a
    // session that never executed anything: in a test JVM, a session
    // that ran one job or created one temp view (as registerViews
    // does) stayed reachable from inside Spark after 50 System.gc()s
    new java.util.WeakHashMap[SparkSession, String]())

  def registerViews(s: SparkSession, d: String): Unit =
    viewsRegistered.synchronized {
      if (viewsRegistered.get(s) != d) {
        All.foreach { n =>
          val df = if (n == "events") events(s, d) else t(s, d, n)
          df.createOrReplaceTempView(n)
        }
        viewsRegistered.put(s, d): Unit
      }
    }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** The ns→µs conversion for TIMESTAMP(NANOS) parquet files surfaced
    * as a nanos long via `nanosAsLong` — truncate to microseconds
    * exactly (integer division; a double roundtrip would lose precision
    * at 1e18). DuckDB's TIMESTAMP_NS→µs truncation matches. Shared
    * verbatim with the streaming source (Streams.eventStream) so the
    * truncation semantics can't drift. */
  val EventTsFromNanosExpr = "timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"

  /** Normalise a scanned events frame so `ts` is always TIMESTAMP
    * (with-tz, µs), whatever unit/annotation the generator wrote:
    *  - LongType: TIMESTAMP(NANOS) surfaced via `nanosAsLong` → exact
    *    ns→µs truncation;
    *  - TIMESTAMP_NTZ: stored µs without UTC annotation → cast; the
    *    session is pinned UTC so the cast is value-preserving and the
    *    DuckDB oracle's `epoch_us(ts)` agrees (and `withWatermark`
    *    requires TIMESTAMP, not NTZ);
    *  - TimestampType: pass through. */
  def adaptEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr(EventTsFromNanosExpr))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts has unsupported stored type $other; expected " +
          "TIMESTAMP(NANOS)-as-long, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    // harmless when ts is a real timestamp; required when it's NANOS
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    adaptEventTs(t(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Exact row count of `$dir/$name.parquet` read from the parquet
    * FOOTERS on the driver — no Spark job at all, so the self-tuning
    * rules (minhash band rows, embedding bits, the pagerank broadcast
    * gate) cost file-metadata reads, not a scheduled count() action
    * (~0.1-0.4 s each at local[32], and a full stage round-trip on a
    * real cluster). Works for a single file or a directory of part
    * files. Kept with the table's [[open]] entry, so a regenerated
    * table (length/mtime change) re-counts instead of serving a stale
    * count. Scale note: footer reads are per-file driver IO — at a
    * 100k-file table prefer the catalog/statistics path; the tuning
    * rules only need order-of-magnitude, so even sampling the file
    * list would do. */
  def footerRowCount(s: SparkSession, dir: String, name: String): Long = {
    val e = open(s, dir, name)
    e.rows.getOrElse {
      val n = footerRowCountUncached(s, dir, name)
      e.rows = Some(n)
      n
    }
  }

  private def footerRowCountUncached(s: SparkSession, dir: String, name: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = s.sessionState.newHadoopConf()
    val f = new java.io.File(s"$dir/$name.parquet")
    val files =
      if (f.isDirectory)
        f.listFiles.filter(x => x.isFile && x.getName.endsWith(".parquet"))
      else Array(f)
    files.map { x =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(x.getAbsolutePath), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }
}
