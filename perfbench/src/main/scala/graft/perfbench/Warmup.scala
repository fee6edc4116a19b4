package graft.perfbench

import org.apache.spark.sql.Row

import graft.GraftSession
import graft.sinks.PgBinaryCopy

/** Touches the common Spark SQL, parquet and PGCOPY code paths once, so
  * the harness can archive the loaded classes for faster JVM start-up.
  * Usage: Warmup <scratch dir> */
object Warmup {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = GraftSession.builder("local[4]", 4)
      .config("spark.local.dir", s"$dir/spark-local").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      spark.range(0, 100000, 1, 4).selectExpr("id", "id % 7 AS k", "cast(id AS string) AS s",
        "cast(id AS double) / 3 AS d", "current_date() AS dt", "current_timestamp() AS ts",
        "cast(id AS decimal(12,2)) AS dec", "array(cast(id AS float)) AS v")
        .write.mode("overwrite").parquet(s"$dir/warm.parquet")
      val df = spark.read.parquet(s"$dir/warm.parquet")
      df.createOrReplaceTempView("warm")
      spark.sql("SELECT k, count(*), sum(d), max(s), min(dt), avg(dec) FROM warm GROUP BY k")
        .write.format("noop").mode("overwrite").save()
      spark.sql("SELECT a.k, b.s, row_number() OVER (PARTITION BY a.k ORDER BY b.d) AS r " +
        "FROM warm a JOIN warm b ON a.id = b.id WHERE a.k IN (SELECT k FROM warm WHERE id < 10)")
        .write.format("noop").mode("overwrite").save()
      val encs = df.schema.fields.filterNot(_.name == "v")
        .map(f => PgBinaryCopy.fieldEncoder(f.dataType).get)
      df.drop("v").foreachPartition { (rows: Iterator[Row]) =>
        new PgBinaryCopy.RowStream(rows, encs).transferTo(java.io.OutputStream.nullOutputStream())
        ()
      }
    } finally spark.stop()
  }
}
