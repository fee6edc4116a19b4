package graft

import org.scalatest.funsuite.AnyFunSuite

/** The testdata schema preflight must (a) pass on the real driver
  * testdata, and (b) fail with the DRIFTED COLUMN'S NAME when a
  * regeneration changes a type the readers assume — the round-5
  * events.ts ns→µs drift surfaced as 19 scattered DATATYPE_MISMATCH
  * crashes precisely because no such check existed. */
class PreflightSpec extends AnyFunSuite {
  import SparkTestSession._

  test("preflight is clean on the driver-generated testdata") {
    assert(Preflight.violations(spark, sf).isEmpty)
  }

  test("a drifted events.ts type fails naming events.ts") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_preflight").toString
    // re-land events with ts flipped to string — the one drift class
    // Tables.adaptEventTs cannot normalise
    Tables.events(spark, sf)
      .withColumn("ts", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .limit(10).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val v = Preflight.violations(spark, dir)
    assert(v.exists(_.startsWith("events.ts: expected")),
      s"drift must be reported against events.ts, got: $v")
    val ex = intercept[IllegalStateException] {
      Preflight.assertClean(spark, dir)
    }
    assert(ex.getMessage.contains("events.ts"))
  }

  test("a LongType events.ts whose values are NOT nanos fails loudly") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_preflight_us").toString
    // µs-magnitude BIGINTs pass the type check (LongType is adaptable)
    // but adaptEventTs's ÷1000 would silently shift them 1000× early —
    // the magnitude check must catch exactly this
    Tables.events(spark, sf)
      .withColumn("ts", unix_micros(col("ts")))
      .limit(10).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val v = Preflight.violations(spark, dir)
    assert(v.exists(s => s.startsWith("events.ts:") && s.contains("NOT the epoch-nanos")),
      s"µs-magnitude longs must be flagged, got: $v")
    // and genuine nanos-magnitude longs pass
    val dir2 = tempDir("graft_preflight_ns").toString
    Tables.events(spark, sf)
      .withColumn("ts", unix_micros(col("ts")) * 1000L)
      .limit(10).write.mode("overwrite").parquet(s"$dir2/events.parquet")
    assert(!Preflight.violations(spark, dir2).exists(_.startsWith("events.ts")),
      "nanos-magnitude longs are the adaptable form and must pass")
  }

  test("every stored column the source physically reads is preflight-covered") {
    // audit, pinned: for each testdata table, any stored column name
    // referenced anywhere in the main source tree must appear in the
    // expectations map — otherwise a regeneration dropping it fails
    // deep inside a query instead of in Preflight (the r6 ADVICE gap:
    // documents.n_chars was read by three queries but unasserted)
    val srcFiles = {
      val root = java.nio.file.Paths.get("src/main/scala")
      val s = java.nio.file.Files.walk(root)
      try s.filter(_.toString.endsWith(".scala"))
        .map[String](java.nio.file.Files.readString(_))
        .toArray.mkString("\n")
      finally s.close()
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val gaps = Tables.All.flatMap { t =>
      val stored = spark.read.parquet(s"$sf/$t.parquet").schema.fieldNames
      val covered = Preflight.expectations(t).map(_._1).toSet
      stored.filter(c => !covered(c) && srcFiles.contains(s""""$c""""))
        .map(c => s"$t.$c")
    }
    assert(gaps.isEmpty,
      s"source reads stored columns Preflight never asserts: $gaps")
  }

  test("a missing required column is reported as MISSING by name") {
    val dir = tempDir("graft_preflight2").toString
    Tables.events(spark, sf).drop("user_id")
      .limit(10).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val v = Preflight.violations(spark, dir)
    assert(v.exists(_.startsWith("events.user_id: MISSING")),
      s"missing column must be reported by name, got: $v")
  }

  test("all three adaptable events.ts storage forms normalise to TIMESTAMP") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val base = Tables.events(spark, sf).limit(5)
    // TIMESTAMP passthrough
    assert(Tables.adaptEventTs(base).schema("ts").dataType == TimestampType)
    // TIMESTAMP_NTZ → cast (value-preserving under the UTC session)
    val ntz = base.withColumn("ts", col("ts").cast(TimestampNTZType))
    val adapted = Tables.adaptEventTs(ntz)
    assert(adapted.schema("ts").dataType == TimestampType)
    assert(adapted.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq ==
      base.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq)
    // nanos-long → exact ns→µs truncation
    val asNanos = base.withColumn("ts", (unix_micros(col("ts")) * 1000L + 999L))
    val fromNanos = Tables.adaptEventTs(asNanos)
    assert(fromNanos.schema("ts").dataType == TimestampType)
    assert(fromNanos.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq ==
      base.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq,
      "ns→µs must truncate, not round")
  }
}
