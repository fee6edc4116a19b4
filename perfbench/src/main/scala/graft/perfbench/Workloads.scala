package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{Checkpoints, Preflight, SparkEntry, Tables}
import graft.etl.{GraftConfig, DbConfig, ObjectStore, ParquetConfig, Pipeline, S3Config,
  TypeMapping, WorkLists, WorkListsConfig}
import graft.sinks.{PgBinaryCopy, PgCopySink, PgServer, PgWire}
import graft.sources.ParquetSource

/** One pass's outcome: operations attempted and failed, the wall time
  * of each unit of work (a work-list batch or a query), and extra
  * per-pass layer readings. */
final case class PassOut(attempted: Int, failed: Int, units: Seq[(String, Double)],
    rows: Long, layer: Map[String, Double])

/** A benchmark workload: set-up, one pass over its input, the untimed
  * work between passes, and the layer probes of the traced run. */
trait Workload {
  /** Set-up: schema checks, server boot, target table, reference fingerprints. */
  def setup(): Unit
  def pass(sp: Spans, traced: Boolean): PassOut
  /** Untimed work after a pass: gates and reset. Returns (checks, failed). */
  def afterPass(tamper: Boolean): (Int, Int)
  /** Cumulative server-side CPU seconds, 0 when there is no server. */
  def serverCpu(): Double = 0.0
  /** Cumulative server statistics (sessions, commits). */
  def serverStats(): Map[String, Double] = Map.empty
  /** Untimed gate pass after the cold pass. Returns (checks, failed). */
  def gatePass(): (Int, Int) = (0, 0)
  /** Traced-run probes: floors and one-off capability checks. */
  def probes(): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

/** Runs a query list through `SparkEntry.queries`; every output column
  * is materialised through the `noop` sink. Each query is timed under
  * its module's layer name (`queries` or `operators`). */
final class QueryWorkload(spark: SparkSession, counters: Option[Counters],
    layers: Seq[(String, String)], dataDir: String, resultsDir: String)
    extends Workload {

  private val names = layers.map(_._1)
  private val fns = layers.map { case (n, layer) => (n, layer, SparkEntry.queries(n)) }

  def setup(): Unit = {
    Preflight.assertClean(spark, dataDir)
    Tables.registerViews(spark, dataDir)
  }

  def pass(sp: Spans, traced: Boolean): PassOut = {
    val units = mutable.ArrayBuffer.empty[(String, Double)]
    var failed = 0
    val buildJobs = mutable.LinkedHashMap.empty[String, Double]
    fns.foreach { case (name, layer, fn) =>
      val t0 = System.nanoTime()
      try Checkpoints.sweeping(spark) {
        val j0 = if (traced) jobsNow() else 0.0
        val df = sp(s"$layer.build")(fn(spark, dataDir))
        if (traced) {
          buildJobs(s"$layer.build_jobs") = buildJobs.getOrElse(s"$layer.build_jobs", 0.0) +
            jobsNow() - j0
          sp(s"$layer.plan")(df.queryExecution.executedPlan)
        }
        sp(s"$layer.exec")(df.write.format("noop").mode("overwrite").save())
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
      }
      units += name -> (System.nanoTime() - t0) / 1e9
    }
    PassOut(fns.size, failed, units.toSeq, 0L, buildJobs.toMap)
  }

  private def jobsNow(): Double =
    counters.map(_.drained(spark.sparkContext)("spark.jobs")).getOrElse(0.0)

  def afterPass(tamper: Boolean): (Int, Int) = (0, 0)

  /** Writes each query's result as parquet plus the oracle SQL, for
    * the DuckDB comparison that follows in the harness. */
  override def gatePass(): (Int, Int) = {
    var failed = 0
    fns.foreach { case (name, _, fn) =>
      try Checkpoints.sweeping(spark) {
        fn(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$name")
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] gate run of $name failed: ${e.getMessage}")
      }
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$resultsDir/oracle_sql.json"), Json.obj(
      oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    (fns.size, failed)
  }
}

/** The paper's load path, composed from the program's public pieces:
  * `WorkLists` → `ParquetSource.readBatch`/`selectFields` →
  * `TypeMapping.castTo` → `PgCopySink.write` into the live `PgServer`.
  *
  * After every pass the table's row count and a per-column fingerprint
  * computed by Postgres must equal the fingerprint Spark computed from
  * the source frame at set-up; the table is then truncated and the work
  * list reset. */
final class EtlWorkload(spark: SparkSession, inputDir: String, workDir: String,
    items: Seq[String], batchSize: Int, fields: Seq[String],
    casts: Map[String, String], aliases: Map[String, Option[String]]) extends Workload {

  private val table = "bench_load"
  private val wlDir = s"$workDir/worklist"
  private var live: PgServer.Live = _
  private var monitor: graft.sinks.PgWireConn = _
  private var postmasterPid = 0L
  private var castSchema: StructType = _
  private var expected: Fingerprint.Result = _
  private var copyBytes = 0L

  private def paths(batch: Seq[String]): Seq[String] = batch.map(ObjectStore.resolve(inputDir, _))
  private def batches: Seq[Seq[String]] = items.grouped(batchSize).toSeq
  private def target(c: String): String = aliases.get(c).flatten.getOrElse(c)

  /** The frame one batch loads, exactly as a pass builds it. */
  private def frame(batch: Seq[String]): DataFrame =
    TypeMapping.castTo(ParquetSource.selectFields(
      ParquetSource.readBatch(spark, paths(batch)), fields), casts)

  def setup(): Unit = {
    val t0 = System.nanoTime()
    live = PgServer.instance.fold(e => throw new IllegalStateException(e), identity)
    System.err.println(f"[perfbench] server boot ${(System.nanoTime() - t0) / 1e9}%.2fs")
    monitor = PgWire.connect(live.target)
    val pidFile = Paths.get(PgServer.dataDir, "postmaster.pid")
    postmasterPid = Files.readAllLines(pidFile).get(0).trim.toLong
    // lets the harness stop the server if this process dies
    Files.writeString(Paths.get(workDir, "pgdata.txt"), PgServer.dataDir)
    val all = frame(items)
    castSchema = all.schema
    expected = Fingerprint.spark(all, target)
    val cols = castSchema.fields.map(f => s""""${target(f.name)}" ${Fingerprint.pgType(f.dataType)}""")
    monitor.exec(s"DROP TABLE IF EXISTS $table")
    monitor.exec(s"CREATE TABLE $table (${cols.mkString(", ")})")
    resetWorkList()
  }

  private def resetWorkList(): Unit = {
    val dir = Paths.get(wlDir)
    Files.createDirectories(dir)
    Seq("wip", "completed").foreach(f => Files.deleteIfExists(dir.resolve(f)))
    Files.writeString(dir.resolve("todo"), items.mkString("", "\n", "\n"))
  }

  def pass(sp: Spans, traced: Boolean): PassOut = {
    val units = mutable.ArrayBuffer.empty[(String, Double)]
    var rows = 0L
    val wl = sp("etl.worklist")(new WorkLists(wlDir, batchSize))
    var more = true
    while (more) {
      val t0 = System.nanoTime()
      val batch = sp("etl.worklist")(wl.nextBatch())
      if (batch.isEmpty) more = false
      else {
        val read = sp("sources.read")(ParquetSource.readBatch(spark, paths(batch)))
        val sel = sp("sources.read")(ParquetSource.selectFields(read, fields))
        val cast = sp("etl.cast_build")(TypeMapping.castTo(sel, casts))
        rows += sp("sinks.write")(PgCopySink.write(cast, live.url, table, aliases))
        sp("etl.worklist")(batch.foreach(wl.markCompleted))
        units += s"batch${units.size}" -> (System.nanoTime() - t0) / 1e9
      }
    }
    PassOut(units.size, 0, units.toSeq, rows, Map.empty)
  }

  def afterPass(tamper: Boolean): (Int, Int) = {
    if (tamper)
      monitor.exec(s"DELETE FROM $table WHERE ctid = (SELECT ctid FROM $table LIMIT 1)")
    val got = Fingerprint.postgres(monitor, table, castSchema, target)
    val bad = Fingerprint.diff(expected, got)
    bad.foreach(b => System.err.println(s"[perfbench] load gate: $b"))
    monitor.exec(s"TRUNCATE $table")
    resetWorkList()
    (1, if (bad.isEmpty) 0 else 1)
  }

  def rowsLoaded(): Long = expected.rows

  /** Waits until no backend but the monitor is connected, so every
    * backend of the last pass has exited and its CPU is accounted. */
  private def quiesce(): Unit = {
    var left = 200
    while (left > 0 && monitor.query("SELECT count(*) FROM pg_stat_activity " +
        "WHERE backend_type = 'client backend' AND pid <> pg_backend_pid()")._2
        .head(0).toInt > 0) {
      Thread.sleep(5)
      left -= 1
    }
  }

  override def serverCpu(): Double = {
    quiesce()
    ProcStats.childrenCpuSeconds(postmasterPid)
  }

  override def serverStats(): Map[String, Double] = {
    quiesce()
    val (_, rs) = monitor.query("SELECT sessions, xact_commit FROM pg_stat_database " +
      "WHERE datname = current_database()")
    Map("server.sessions" -> rs.head(0).toDouble, "server.xact_commit" -> rs.head(1).toDouble)
  }

  override def probes(): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    out("sources.scan_floor_s") = timed(batches.foreach { b =>
      ParquetSource.selectFields(ParquetSource.readBatch(spark, paths(b)), fields)
        .write.format("noop").mode("overwrite").save()
    })
    out("etl.cast_floor_s") = timed(batches.foreach { b =>
      frame(b).write.format("noop").mode("overwrite").save()
    })
    val encs = castSchema.fields.map(f => PgBinaryCopy.fieldEncoder(f.dataType).get)
    val acc = spark.sparkContext.longAccumulator("copy_bytes")
    out("sinks.encode_floor_s") = timed(batches.foreach { b =>
      frame(b).foreachPartition { (rows: Iterator[Row]) =>
        val in = new PgBinaryCopy.RowStream(rows, encs)
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        var total = 0L
        while (n >= 0) { total += n; n = in.read(buf) }
        acc.add(total)
      }
    })
    copyBytes = acc.value
    out("sinks.copy_bytes") = copyBytes.toDouble
    // pre-encoded PGCOPY payloads, one per (batch, partition) as the
    // sink would send them
    val payloads: Seq[Seq[Array[Byte]]] = batches.map { b =>
      frame(b).rdd.mapPartitions { rows =>
        val in = new PgBinaryCopy.RowStream(rows, encs)
        val bos = new java.io.ByteArrayOutputStream()
        in.transferTo(bos)
        Iterator(bos.toByteArray)
      }.collect().toSeq.filter(_.length > PgBinaryCopy.header.length + 2)
    }
    val colList = castSchema.fields.map(f => s""""${target(f.name)}"""").mkString(", ")
    val copySql = s"COPY $table ($colList) FROM STDIN WITH (FORMAT binary)"
    def parallel(parts: Seq[Array[Byte]])(load: Array[Byte] => Unit): Unit = {
      val threads = parts.map(p => new Thread(() => load(p)))
      threads.foreach(_.start()); threads.foreach(_.join())
    }
    monitor.exec(s"TRUNCATE $table")
    out("sinks.pgwire_floor_s") = timed(payloads.foreach(ps => parallel(ps) { p =>
      val c = PgWire.connect(live.target)
      try c.copyIn(copySql, new java.io.ByteArrayInputStream(p)) finally c.close()
    }))
    val wireRows = tableRows()
    monitor.exec(s"TRUNCATE $table")
    val files = payloads.zipWithIndex.map { case (ps, i) =>
      ps.zipWithIndex.map { case (p, j) =>
        val f = Paths.get(workDir, s"copy-$i-$j.bin")
        Files.write(f, p)
        f.toFile
      }
    }
    out("server.copy_floor_s") = timed(files.foreach { fs =>
      val procs = fs.map { f =>
        new ProcessBuilder("psql", "-q", "-X", "-h", live.socketDir, "-p", live.port.toString,
          "-U", live.user, "-d", live.db, "-v", "ON_ERROR_STOP=1", "-c",
          s"COPY $table ($colList) FROM STDIN WITH (FORMAT binary)")
          .redirectInput(f).redirectErrorStream(true)
          .redirectOutput(ProcessBuilder.Redirect.DISCARD).start()
      }
      procs.foreach(p => require(p.waitFor() == 0, "psql COPY failed"))
    })
    val psqlRows = tableRows()
    files.flatten.foreach(_.delete())
    monitor.exec(s"TRUNCATE $table")
    require(wireRows == expected.rows && psqlRows == expected.rows,
      s"floor loads landed $wireRows / $psqlRows rows, expected ${expected.rows}")
    out("etl.pipeline_pg_ok") = pipelineProbe()
    out("sinks.ntz_ok") = ntzProbe()
    out.toMap
  }

  def copyBytesPerPass: Long = copyBytes

  private def tableRows(): Long =
    monitor.query(s"SELECT count(*) FROM $table")._2.head(0).toLong

  /** 1 when `Pipeline.run` with a `jdbc:postgresql:` conn_str loads the
    * live server (first batch, each desired field once), else 0. */
  private def pipelineProbe(): Double = {
    val probeTable = "bench_pipeline_probe"
    val dir = s"$workDir/pipeline_probe"
    val probeFields = fields.distinct
    val probeCasts = casts.filter { case (c, _) => probeFields.contains(c) }
    Files.createDirectories(Paths.get(dir))
    Seq("wip", "completed").foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
    Files.writeString(Paths.get(dir, "todo"), batches.head.mkString("", "\n", "\n"))
    val schema = TypeMapping.castTo(ParquetSource.selectFields(
      ParquetSource.readBatch(spark, paths(batches.head)), probeFields), probeCasts).schema
    val cols = schema.fields.map(f => s""""${target(f.name)}" ${Fingerprint.pgType(f.dataType)}""")
    monitor.exec(s"DROP TABLE IF EXISTS $probeTable")
    monitor.exec(s"CREATE TABLE $probeTable (${cols.mkString(", ")})")
    val cfg = GraftConfig(DbConfig(probeTable, live.url),
      S3Config(inputDir, batchSize, s"$workDir/downloads"), ParquetConfig(probeFields),
      Some(aliases), WorkListsConfig(dir))
    val ok =
      try {
        val n = Pipeline.run(spark, cfg, probeCasts)
        n > 0 && monitor.query(s"SELECT count(*) FROM $probeTable")._2.head(0).toLong == n
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] Pipeline.run probe: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      }
    monitor.exec(s"DROP TABLE $probeTable")
    if (ok) 1.0 else 0.0
  }

  /** 1 when `PgCopySink.write` accepts a TIMESTAMP_NTZ column (parquet
    * timestamps without a UTC annotation read as that type), else 0. */
  private def ntzProbe(): Double = {
    val probeTable = "bench_ntz_probe"
    monitor.exec(s"DROP TABLE IF EXISTS $probeTable")
    monitor.exec(s"CREATE TABLE $probeTable (ts timestamp)")
    val df = spark.sql("SELECT TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ts")
    val ok =
      try PgCopySink.write(df, live.url, probeTable) == 1L
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] TIMESTAMP_NTZ probe: ${e.getMessage}")
          false
      }
    monitor.exec(s"DROP TABLE $probeTable")
    if (ok) 1.0 else 0.0
  }

  override def close(): Unit = if (monitor != null) monitor.close()
}

/** Per-column fingerprints that Spark and Postgres compute identically:
  * the non-null count and an exact sum of a type-specific integer image
  * of each value (text and bytes through the first 60 bits of their
  * MD5, floats scaled by 1000 and floored, dates and timestamps as
  * epoch days and microseconds). */
object Fingerprint {
  final case class Result(rows: Long, cols: Seq[(String, Long, Option[java.math.BigDecimal])])

  def pgType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case ByteType | ShortType => "smallint"
    case IntegerType => "integer"
    case LongType => "bigint"
    case FloatType => "real"
    case DoubleType => "double precision"
    case StringType => "text"
    case BinaryType => "bytea"
    case DateType => "date"
    case TimestampType => "timestamp"
    case d: DecimalType => s"numeric(${d.precision},${d.scale})"
    case other => throw new IllegalArgumentException(s"no Postgres column type for $other")
  }

  private def sparkImage(c: String, dt: DataType): String = dt match {
    case BooleanType => s"CAST(CASE WHEN `$c` THEN 1 ELSE 0 END AS DECIMAL(38,0))"
    case ByteType | ShortType | IntegerType | LongType => s"CAST(`$c` AS DECIMAL(38,0))"
    case FloatType | DoubleType => s"CAST(floor(CAST(`$c` AS DOUBLE) * 1000D) AS DECIMAL(38,0))"
    case _: DecimalType => s"`$c`"
    case DateType => s"CAST(unix_date(`$c`) AS DECIMAL(38,0))"
    case TimestampType => s"CAST(unix_micros(`$c`) AS DECIMAL(38,0))"
    case StringType | BinaryType => s"CAST(md5_60(CAST(`$c` AS BINARY)) AS DECIMAL(38,0))"
    case other => throw new IllegalArgumentException(s"no fingerprint for $other")
  }

  private def pgImage(c: String, dt: DataType): String = dt match {
    case BooleanType => s"""CASE WHEN "$c" THEN 1 ELSE 0 END"""
    case ByteType | ShortType | IntegerType | LongType => s""""$c"::numeric"""
    case FloatType | DoubleType => s"""floor("$c"::float8 * 1000)::bigint::numeric"""
    case _: DecimalType => s""""$c""""
    case DateType => s"""("$c" - date '1970-01-01')::numeric"""
    case TimestampType => s"""(extract(epoch from "$c") * 1000000)::numeric"""
    case StringType | BinaryType => s"""('x' || substr(md5("$c"), 1, 15))::bit(60)::bigint::numeric"""
    case other => throw new IllegalArgumentException(s"no fingerprint for $other")
  }

  /** The first 60 bits of a value's MD5 (Postgres:
    * `('x' || substr(md5(v), 1, 15))::bit(60)::bigint`). */
  private val md5Digest = ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private def md5Of60(b: Array[Byte]): java.lang.Long =
    if (b == null) null
    else {
      val d = md5Digest.get().digest(b)
      var v = 0L
      var i = 0
      while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
      java.lang.Long.valueOf((v << 4) | ((d(7) & 0xff) >>> 4))
    }

  def spark(df: DataFrame, target: String => String): Result = {
    df.sparkSession.udf.register("md5_60", md5Of60 _)
    val aggs = "count(1)" +: df.schema.fields.toSeq.flatMap(f =>
      Seq(s"count(`${f.name}`)", s"sum(${sparkImage(f.name, f.dataType)})"))
    val r = df.selectExpr(aggs: _*).head()
    Result(r.getLong(0), df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      (target(f.name), r.getLong(1 + 2 * i), Option(r.getDecimal(2 + 2 * i)))
    })
  }

  def postgres(conn: graft.sinks.PgWireConn, table: String, schema: StructType,
      target: String => String): Result = {
    val aggs = "count(*)" +: schema.fields.toSeq.flatMap { f =>
      val c = target(f.name)
      Seq(s"""count("$c")""", s"sum(${pgImage(c, f.dataType)})")
    }
    val row = conn.query(s"SELECT ${aggs.mkString(", ")} FROM $table")._2.head
    Result(row(0).toLong, schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      (target(f.name), row(1 + 2 * i).toLong,
        Option(row(2 + 2 * i)).map(new java.math.BigDecimal(_)))
    })
  }

  /** Human-readable mismatches; empty when the fingerprints agree. */
  def diff(want: Result, got: Result): Seq[String] = {
    val rows = if (want.rows != got.rows) Seq(s"rows ${got.rows} != ${want.rows}") else Nil
    rows ++ want.cols.zip(got.cols).flatMap { case ((c, wn, ws), (_, gn, gs)) =>
      val sumOk = (ws, gs) match {
        case (Some(a), Some(b)) => a.compareTo(b) == 0
        case (None, None) => true
        case _ => false
      }
      if (wn == gn && sumOk) None
      else Some(s"$c: count $gn sum ${gs.orNull} != count $wn sum ${ws.orNull}")
    }
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
