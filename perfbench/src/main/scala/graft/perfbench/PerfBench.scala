package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, explode, lit, sequence, split, typedLit}

import graft.GraftSession
import graft.functions.{HashFunctions, VectorExpressions}

/** Benchmark runner: one workload, one process.
  *
  * Timeline: set-up (`setup_s`: from the harness's launch, input
  * generation included, through session start, schema checks, server
  * boot and reference fingerprints), one cold pass, warm passes until
  * `--seconds` have passed (at least two). Gates run untimed: after
  * every pass, and a gate pass after the cold one. With `--trace 1`
  * warm passes alternate untraced and traced in ABBA order (spans
  * around every call into the program plus Spark listener counters),
  * and the layer floors and kernel probes run after them.
  *
  * Usage: PerfBench --workload W --tables DIR --input DIR --work DIR
  *   --out FILE --seconds S --trace 0|1 --launch-ms EPOCH_MS
  *   [--queries q1,q2,...] [--operators o1,o2,...] [--cpus N] [--tamper]
  */
object PerfBench {

  final case class Opts(workload: String, tables: String, input: String, work: String,
      out: String, seconds: Double, trace: Boolean, launchMs: Long, queries: Seq[String],
      operators: Seq[String], cpus: Int, tamper: Boolean)

  private def parse(argv: Array[String]): Opts = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val tamper = argv.contains("--tamper")
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("tables"), need("input"), need("work"), need("out"),
      need("seconds").toDouble, need("trace") == "1", need("launch-ms").toLong,
      list(m, "queries"), list(m, "operators"), m.getOrElse("cpus", "4").toInt, tamper)
  }

  private def list(m: Map[String, String], k: String): Seq[String] =
    m.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

  private def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  private def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  private def timed(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  final case class Pass(traced: Boolean, wall: Double, cpu: Double, out: PassOut,
      layer: Map[String, Double])

  private val EtlBulkFields = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")

  /** etl_batches: every source column once per cast arm it allows; the
    * repeats are de-duplicated by `selectFields` as `<name>_<i>`. */
  private val EtlBatchCasts: Seq[(String, String)] = Seq(
    "c_bool" -> "boolean", "c_bool" -> "smallint", "c_bool" -> "varchar",
    "c_i8" -> "smallint", "c_i8" -> "int", "c_i8" -> "bigint",
    "c_i16" -> "smallint", "c_i16" -> "int", "c_i16" -> "bigint",
    "c_i32" -> "int", "c_i32" -> "bigint", "c_i64" -> "bigint",
    "c_f32" -> "real", "c_f32" -> "double", "c_f64" -> "double",
    "c_dec" -> "numeric", "c_dec" -> "double", "c_dec" -> "varchar", "c_dec0" -> "bigint",
    "c_date" -> "date", "c_date" -> "int", "c_date" -> "bigint", "c_date" -> "varchar",
    "c_ts" -> "timestamp", "c_ts" -> "varchar", "c_text" -> "text", "c_bin" -> "bytea")

  private def etlWorkload(o: Opts, spark: SparkSession): EtlWorkload = {
    val items = Files.readAllLines(Paths.get(o.input, "items.txt")).toArray(Array.empty[String])
      .toSeq.filter(_.nonEmpty)
    if (o.workload == "etl_bulk")
      new EtlWorkload(spark, o.input, o.work, items, 1, EtlBulkFields,
        Map("l_linenumber" -> "bigint"), Map("l_orderkey" -> Some("orderkey")))
    else {
      val fields = EtlBatchCasts.map(_._1)
      val seen = mutable.Map.empty[String, Int]
      val casts = EtlBatchCasts.map { case (f, t) =>
        val n = seen.getOrElse(f, 0)
        seen(f) = n + 1
        (if (n == 0) f else s"${f}_$n") -> t
      }.toMap
      new EtlWorkload(spark, o.input, o.work, items, 4, fields, casts,
        Map("c_text" -> Some("body")))
    }
  }

  /** Fixed dense kernel run between passes: a host-contention canary. */
  private def canary(spark: SparkSession, cpus: Int): Double = timed {
    spark.range(0, 4000000L, 1, cpus).selectExpr(
      "sum(sqrt(cast(id % 9973 as double) * 1.0001 + sin(cast(id as double) / 1e6)))").collect()
  }

  /** Each codegen kernel as a fixed expression over the embeddings or
    * documents table, materialised with noop; median of three. */
  private def kernelProbes(spark: SparkSession, tables: String): Map[String, Double] = {
    val rng = new scala.util.Random(17)
    val dim = 64
    def vec(): Seq[Float] = Seq.fill(dim)(rng.nextGaussian().toFloat)
    val q = typedLit(vec().toArray)
    val cents = Seq.fill(16)(vec())
    val emb = spark.read.parquet(s"$tables/embeddings.parquet")
      .withColumn("r", explode(sequence(lit(1), lit(50))))
    val docs = spark.read.parquet(s"$tables/documents.parquet")
      .withColumn("r", explode(sequence(lit(1), lit(5))))
    val probes = Seq(
      "functions.dot_product_s" -> emb.select(VectorExpressions.dot(col("embedding"), q)),
      "functions.centroid_argmin_s" -> emb.select(
        VectorExpressions.centroidArgmin(col("embedding"), 0 until 16, cents)),
      "functions.hyperplane_sigs_s" -> emb.select(
        VectorExpressions.hyperplaneSigs(col("embedding"), 16, 4, dim)),
      "functions.simhash64_s" -> docs.select(HashFunctions.simhash64(split(col("text"), " "))),
      "functions.fnv64_s" -> docs.select(HashFunctions.fnv64(col("text"))))
    probes.map { case (name, df) =>
      name -> median((1 to 3).map(_ => timed(df.write.format("noop").mode("overwrite").save())))
    }.toMap
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val etl = o.workload.startsWith("etl_")
    val builder = GraftSession.builder(s"local[${o.cpus}]", o.cpus)
      .config("spark.local.dir", s"${o.work}/spark-local")
    // parquet timestamps without a UTC annotation would otherwise read
    // as TIMESTAMP_NTZ, which the PGCOPY encoder has no mapping for
    // (`sinks.ntz_ok` records that separately)
    if (etl) builder.config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val spark = builder.getOrCreate()
    System.err.println(f"[perfbench] session ready ${(System.currentTimeMillis() - o.launchMs) / 1e3}%.2fs")
    spark.sparkContext.setLogLevel("ERROR")
    val counters = if (o.trace) Some(new Counters) else None
    counters.foreach(spark.sparkContext.addSparkListener)

    val workload: Workload = o.workload match {
      case "etl_bulk" | "etl_batches" => etlWorkload(o, spark)
      case "read_side" => new QueryWorkload(spark, counters,
        o.queries.map(_ -> "queries") ++ o.operators.map(_ -> "operators"),
        o.tables, s"${o.work}/results")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var attempted = 0
    var failed = 0
    try {
      workload.setup()
      val setupS = (System.currentTimeMillis() - o.launchMs) / 1e3
      System.err.println(f"[perfbench] set-up ${setupS}%.2fs")

      val canaries = mutable.ArrayBuffer.empty[Double]
      def runPass(traced: Boolean, tamper: Boolean = false): Pass = {
        val sp = new Spans(traced)
        val sc = spark.sparkContext
        val c0 = if (traced) counters.get.drained(sc) else Map.empty[String, Double]
        val s0 = if (traced) workload.serverStats() else Map.empty[String, Double]
        val srv0 = workload.serverCpu()
        val cpu0 = ProcStats.jvmCpuSeconds
        val ms0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val out = workload.pass(sp, traced)
        val wall = (System.nanoTime() - t0) / 1e9
        val ms1 = System.currentTimeMillis()
        val cpu = ProcStats.jvmCpuSeconds - cpu0
        val srv = workload.serverCpu() - srv0
        val layer = mutable.LinkedHashMap.empty[String, Double]
        if (traced) {
          val c1 = counters.get.drained(sc)
          c1.foreach { case (k, v) => layer(k) = v - c0(k) }
          layer("spark.no_job_s") = math.max(0.0, (ms1 - ms0) / 1e3 - counters.get.busySeconds(ms0, ms1))
          workload.serverStats().foreach { case (k, v) => layer(k) = v - s0(k) }
          layer("server.cpu_s") = srv
          layer("server.rows") = out.rows.toDouble
          sp.take().foreach { case (k, v) => layer(k + "_s") = v }
          layer ++= out.layer
        }
        attempted += out.attempted
        failed += out.failed
        val (checks, bad) = workload.afterPass(tamper)
        attempted += checks
        failed += bad
        canaries += canary(spark, o.cpus)
        Pass(traced, wall, cpu + srv, out, layer.toMap)
      }

      val cold = runPass(traced = false)
      System.err.println(f"[perfbench] cold pass ${cold.wall}%.2fs")
      // untimed gate run right after the cold pass, so it also settles
      // the JIT before the warm passes are measured
      val (gChecks, gBad) = workload.gatePass()
      attempted += gChecks
      failed += gBad
      val warm = mutable.ArrayBuffer.empty[Pass]
      val w0 = System.nanoTime()
      val minWarm = if (o.trace) 4 else 2
      while (warm.size < minWarm || (System.nanoTime() - w0) / 1e9 < o.seconds)
        // traced run: untraced and traced passes in ABBA order
        warm += runPass(traced = o.trace && Set(1, 2)(warm.size % 4))
      val peakRss = ProcStats.peakRssMb
      System.err.println(s"[perfbench] warm passes: ${warm.map(p => f"${p.wall}%.2f${if (p.traced) "t" else ""}").mkString(" ")}")

      // gate self-test: one more pass whose loaded table loses a row
      if (o.tamper && etl) runPass(traced = false, tamper = true)

      val plain = warm.filterNot(_.traced).toSeq
      val passS = median(plain.map(_.wall))
      val e2e = Seq(
        "setup_s" -> setupS,
        "cold_pass_s" -> cold.wall,
        "pass_s" -> passS,
        "cpu_s_per_pass" -> median(plain.map(_.cpu)),
        "peak_rss_mb" -> peakRss)

      val layer = mutable.LinkedHashMap.empty[String, Double]
      if (o.trace) {
        val traced = warm.filter(_.traced).toSeq
        traced.flatMap(_.layer.keys).distinct.foreach { k =>
          layer(k) = median(traced.map(_.layer.getOrElse(k, 0.0)))
        }
        layer("trace.overhead_share") = median(traced.map(_.wall)) / passS - 1.0
        val units = plain.flatMap(_.out.units)
        if (etl) {
          val etlW = workload.asInstanceOf[EtlWorkload]
          val batchTimes = units.map(_._2)
          layer("etl.batches") = plain.head.out.units.size.toDouble
          layer("etl.batch_p50_s") = median(batchTimes)
          layer("etl.batch_p90_s") = percentile(batchTimes, 0.9)
          val tProbe = System.nanoTime()
          layer ++= workload.probes()
          System.err.println(f"[perfbench] layer floors ${(System.nanoTime() - tProbe) / 1e9}%.2fs")
          layer("etl.load_rows_per_s") = etlW.rowsLoaded() / passS
          layer("etl.load_mb_per_s") = etlW.copyBytesPerPass / 1e6 / passS
        } else
          units.groupBy(_._1).foreach { case (name, ts) => layer(s"query.${name}_s") = median(ts.map(_._2)) }
        val tProbe = System.nanoTime()
        layer ++= kernelProbes(spark, o.tables)
        System.err.println(f"[perfbench] kernel probes ${(System.nanoTime() - tProbe) / 1e9}%.2fs")
        layer("host.canary_s") = median(canaries.toSeq)
      }

      val json = Json.obj(Seq(
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "passes" -> warm.size.toString,
        "host_canary_s" -> Json.num(median(canaries.toSeq)),
        "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
        "layer" -> Json.obj(layer.toSeq.map { case (k, v) => k -> Json.num(v) })))
      Files.writeString(Paths.get(o.out), json)
    } finally {
      workload.close()
      spark.stop()
    }
  }
}
