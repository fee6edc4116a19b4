package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingPipeline

/** Continuous-ingest ETL: FileStreamSource → project/cast →
  * foreachBatch JDBC append, with checkpointed source offsets standing
  * in for the reference's todo/wip/completed work lists. */
class StreamingPipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  private def derby(db: String) = s"jdbc:derby:memory:$db;create=true"

  private def exec(url: String, sql: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try { c.createStatement().execute(sql) } finally c.close()
  }

  private def queryLong(url: String, sql: String): Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  /** Land `df` as ONE plain parquet file named `name` — the shape of an
    * object-store delivery (the reference's unit of work is a single
    * .parquet object, not a Spark part-file directory). */
  private def land(df: org.apache.spark.sql.DataFrame, landing: String,
      name: String): Unit = {
    val stage = tempDir("stage").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$stage/d")
    val part = new java.io.File(s"$stage/d").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, java.nio.file.Paths.get(landing, name))
  }

  test("streaming pipeline ingests files incrementally, exactly once per file") {
    val landing = tempDir("landing").toString
    val ckpt = tempDir("ckpt").toString
    val url = derby("streampipe")
    exec(url, "CREATE TABLE stream_t (order_id BIGINT, qty DOUBLE)")

    val li = Tables.lineitem(spark, sf).select(
      col("l_orderkey"), col("l_quantity"))
    val first = li.filter(col("l_orderkey") <= 100)
    land(first, landing, "batch1.parquet")

    val schema = first.schema
    val q = StreamingPipeline.run(spark, s"$landing/*.parquet", schema,
      desiredFields = Seq("l_orderkey", "l_quantity"),
      url = url, table = "stream_t",
      aliases = Map("l_orderkey" -> Some("order_id"),
        "l_quantity" -> Some("qty")),
      checkpointDir = ckpt)
    try {
      q.processAllAvailable()
      assert(queryLong(url, "SELECT COUNT(*) FROM stream_t") == first.count())

      // a new file lands: ONLY its rows are appended (offsets committed)
      val second = li.filter(col("l_orderkey").between(101, 200))
      land(second, landing, "batch2.parquet")
      q.processAllAvailable()
      assert(queryLong(url, "SELECT COUNT(*) FROM stream_t") ==
        first.count() + second.count())
      // no order from batch1's key range was re-ingested
      assert(queryLong(url,
        "SELECT COUNT(*) FROM stream_t WHERE order_id <= 100") ==
        first.count())
    } finally q.stop()

    // restart from the same checkpoint: nothing is re-ingested
    val q2 = StreamingPipeline.run(spark, s"$landing/*.parquet", schema,
      desiredFields = Seq("l_orderkey", "l_quantity"),
      url = url, table = "stream_t",
      aliases = Map("l_orderkey" -> Some("order_id"),
        "l_quantity" -> Some("qty")),
      checkpointDir = ckpt)
    try {
      q2.processAllAvailable()
      assert(queryLong(url, "SELECT COUNT(*) FROM stream_t") ==
        first.count() + li.filter(col("l_orderkey").between(101, 200)).count())
    } finally q2.stop()
  }

  /** The streaming half of the object-store contract: FileStreamSource
    * discovery (glob listing, mtime ordering) AND the streaming
    * checkpoint's rename-based commit log both run over the foreign
    * mocks3:// scheme — the code paths a real s3a continuous-ingest
    * deployment exercises, which the batch mocks3 pipeline test does
    * not reach. Objects land via Hadoop FS rename (the atomic-publish
    * idiom), exactly once each. */
  test("streaming pipeline ingests a mocks3:// landing prefix with mocks3 checkpoint") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mocks3.impl", classOf[MockS3FileSystem].getName)
    hc.set("fs.mocks3.root", tempDir("mocks3_stream_root").toString)
    val bucket = s"mocks3://graft-stream-${System.nanoTime()}"
    val url = derby("streampipe_s3")
    exec(url, "CREATE TABLE s3_stream_t (order_id BIGINT, qty DOUBLE)")
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
    val fs = new org.apache.hadoop.fs.Path(bucket).getFileSystem(hc)
    def landS3(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val staging = s"$bucket/staging_$name"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(staging))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$bucket/landing"))
      assert(fs.rename(part, new org.apache.hadoop.fs.Path(s"$bucket/landing/$name")))
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    }
    val first = li.filter(col("l_orderkey") <= 100)
    landS3(first, "obj1.parquet")
    val q = StreamingPipeline.run(spark, s"$bucket/landing/*.parquet", first.schema,
      desiredFields = Seq("l_orderkey", "l_quantity"),
      url = url, table = "s3_stream_t",
      aliases = Map("l_orderkey" -> Some("order_id"), "l_quantity" -> Some("qty")),
      checkpointDir = s"$bucket/ckpt")
    try {
      q.processAllAvailable()
      assert(queryLong(url, "SELECT COUNT(*) FROM s3_stream_t") == first.count())
      val second = li.filter(col("l_orderkey").between(101, 200))
      landS3(second, "obj2.parquet")
      q.processAllAvailable()
      assert(queryLong(url, "SELECT COUNT(*) FROM s3_stream_t") ==
        first.count() + second.count())
      assert(queryLong(url,
        "SELECT COUNT(*) FROM s3_stream_t WHERE order_id <= 100") == first.count(),
        "batch-1 rows were re-ingested — offsets did not commit over mocks3")
    } finally q.stop()
  }
}
