package graft

import java.nio.file.{Files, Path => JPath, StandardCopyOption}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroupFactory}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graft.JobProbe
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try
import graft.sources.ParquetSource

/** `ParquetSource.readBatch` reads the batch schema from the first
  * file's footer on the driver; these specs hold it to the schema, rows
  * and errors of `spark.read.parquet` over the same paths. */
class ParquetSourceSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmpDir(prefix: String): JPath = Files.createTempDirectory(prefix)

  /** Writes `df` as ONE plain parquet file at `dir/name`. */
  private def writeFile(df: DataFrame, dir: JPath, name: String): String = {
    val staging = tmpDir("graft_pq_stage").resolve("out")
    df.coalesce(1).write.parquet(staging.toString)
    val part = Files.list(staging).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    val dest = dir.resolve(name)
    Files.createDirectories(dest.getParent)
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    dest.toString
  }

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Same schema (names, types, nullability, metadata) and same rows as
    * Spark's own inference; returns the jobs readBatch launched. */
  private def sameAsSpark(paths: Seq[String], key: String): Int = {
    val want = spark.read.parquet(paths: _*)
    val (got, jobs) = JobProbe(spark.sparkContext)(ParquetSource.readBatch(spark, paths))
    assert(got.schema == want.schema, s"\n got ${got.schema.treeString}\nwant ${want.schema.treeString}")
    assert(got.orderBy(col(key)).collect().toSeq == want.orderBy(col(key)).collect().toSeq)
    jobs.count
  }

  private lazy val typed: DataFrame = spark.range(0, 50).selectExpr(
    "id", "cast(id AS int) AS i", "cast(id AS short) AS sh", "cast(id AS string) AS s",
    "CASE WHEN id % 5 = 0 THEN NULL ELSE cast(id AS decimal(12,2)) END AS d12",
    "cast(id AS decimal(38,10)) AS d38", "date_add(DATE'1969-12-25', cast(id AS int)) AS dt",
    "timestamp_micros(id * 86400000000 - 3600000000) AS ts",
    "cast(timestamp_micros(id * 1000) AS timestamp_ntz) AS ntz",
    "cast(cast(id AS string) AS binary) AS bin", "id % 2 = 0 AS b", "cast(id AS double) / 7 AS dbl",
    "cast(id AS float) AS f", "array(cast(id AS int), 2) AS arr",
    "named_struct('a', cast(id AS int), 'b', cast(id AS string)) AS st",
    "map('k', cast(id AS int)) AS m")

  test("readBatch: Spark-written files, every type, schema of the first file in path order, no job") {
    val dir = tmpDir("graft_pq_typed")
    val a = writeFile(typed.filter("id < 20"), dir, "b/part-a.parquet")
    val b = writeFile(typed.filter("id >= 20"), dir, "a/part-b.parquet")
    // a third file with another column order and a missing column: the
    // first file in path order (not argument order) sets the schema
    val c = writeFile(typed.filter("id >= 40").select("s", "id", "i"), dir, "c.parquet")
    for (paths <- Seq(Seq(a, b), Seq(b, a), Seq(c, a, b), Seq(a, c), Seq(c)))
      assert(sameAsSpark(paths, "id") == 0, s"readBatch($paths) launched a Spark job")
    // Spark's own inference reads that footer inside a job
    assert(JobProbe(spark.sparkContext)(spark.read.parquet(a, b))._2.count >= 1)
  }

  test("readBatch: non-Spark footers follow the session's parquet settings") {
    val dir = tmpDir("graft_pq_raw")
    val schema = MessageTypeParser.parseMessageType(
      """message raw {
        |  required int32 id;
        |  optional int96 t96;
        |  optional binary raw;
        |  optional int64 ntz (TIMESTAMP(MICROS,false));
        |  optional int64 utc (TIMESTAMP(MILLIS,true));
        |  optional int64 ns (TIMESTAMP(NANOS,true));
        |  optional group tags (LIST) { repeated group list { optional binary element (STRING); } }
        |}""".stripMargin)
    def write(name: String, ids: Range): String = {
      val path = dir.resolve(name).toString
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(path),
        spark.sparkContext.hadoopConfiguration)).withType(schema).build()
      val g = new SimpleGroupFactory(schema)
      try ids.foreach { i =>
        val row = g.newGroup().append("id", i)
        if (i % 3 != 0) {
          row.append("t96", new NanoTime(2440588 + i, i * 1000L))
            .append("raw", Binary.fromString(s"r$i"))
            .append("ntz", i * 1000000L - 5000000L)
            .append("utc", i * 1000L)
            .append("ns", i * 1000L + 7)
          row.addGroup("tags").addGroup("list").append("element", s"t$i")
        }
        w.write(row)
      } finally w.close()
      path
    }
    val paths = Seq(write("z.parquet", 0 until 10), write("y.parquet", 10 until 20))
    /** Spark's inference and readBatch succeed or fail together; true
      * when both succeeded (with the same schema and rows, no job). */
    def sameOutcome(): Boolean =
      if (Try(spark.read.parquet(paths: _*)).isSuccess) {
        assert(sameAsSpark(paths, "id") == 0); true
      } else {
        assert(Try(ParquetSource.readBatch(spark, paths)).isFailure); false
      }
    val read = for {
      binaryAsString <- Seq("false", "true")
      int96AsTimestamp <- Seq("false", "true")
      inferNtz <- Seq("false", "true")
      nanosAsLong <- Seq("false", "true")
    } yield withConf(
        "spark.sql.parquet.binaryAsString" -> binaryAsString,
        "spark.sql.parquet.int96AsTimestamp" -> int96AsTimestamp,
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> inferNtz,
        "spark.sql.legacy.parquet.nanosAsLong" -> nanosAsLong,
        // inference ignores these two, whatever the session says
        "spark.sql.caseSensitive" -> "true",
        "spark.sql.parquet.fieldId.read.enabled" -> "true")(sameOutcome())
    // INT96 needs int96AsTimestamp; the rest read either way
    assert(read.count(identity) >= 4, read)
  }

  test("readBatch: directories, globs, merging and missing paths take Spark's own inference") {
    val dir = tmpDir("graft_pq_fallback")
    val small = typed.select("id", "s", "d12")
    small.filter("id < 25").write.parquet(dir.resolve("dir1").toString)
    small.filter("id >= 25").select("id", "s").write.parquet(dir.resolve("dir2").toString)
    val f1 = writeFile(small.filter("id < 10"), dir, "f1.parquet")
    val f2 = writeFile(small.filter("id >= 10").select("id", "s"), dir, "f2.parquet")
    sameAsSpark(Seq(dir.resolve("dir1").toString, dir.resolve("dir2").toString), "id")
    sameAsSpark(Seq(dir.resolve("dir2").toString, f1), "id")
    sameAsSpark(Seq(s"$dir/f*.parquet"), "id")
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      val merged = ParquetSource.readBatch(spark, Seq(f2, f1))
      assert(merged.columns.toSet == Set("id", "s", "d12"))
      sameAsSpark(Seq(f2, f1), "id")
    }
    val missing = Seq(f1, s"$dir/nope.parquet")
    val want = intercept[AnalysisException](spark.read.parquet(missing: _*))
    val got = intercept[AnalysisException](ParquetSource.readBatch(spark, missing))
    assert(got.getMessage == want.getMessage)
  }

  test("readBatch: plain files over a non-file Hadoop scheme") {
    val root = tmpDir("graft_pq_mocks3")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mocks3.impl", classOf[MockS3FileSystem].getName)
    hc.set("fs.mocks3.root", root.toString)
    val bucket = s"graft-pq-${System.nanoTime()}"
    writeFile(typed.filter("id < 30"), root, s"$bucket/in/k1.parquet")
    writeFile(typed.filter("id >= 30"), root, s"$bucket/in/k0.parquet")
    val paths = Seq(s"mocks3://$bucket/in/k1.parquet", s"mocks3://$bucket/in/k0.parquet")
    assert(sameAsSpark(paths, "id") == 0)
  }
}
