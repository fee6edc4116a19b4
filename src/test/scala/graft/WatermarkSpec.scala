package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Late-data semantics: with an event-time watermark, rows arriving
  * after the watermark has passed their window are DROPPED, the window
  * result is emitted exactly once (append mode), and state for closed
  * windows is evicted — the property that keeps streaming-aggregation
  * state bounded on an unbounded stream. Verified end-to-end with a
  * two-file replay where the second file is entirely late.
  */
class WatermarkSpec extends AnyFunSuite {
  import SparkTestSession._

  private def writeOne(df: org.apache.spark.sql.DataFrame, dir: Path, name: String): Unit = {
    val staging = tempDir("graft_wm_stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
  }

  test("append-mode windowed agg drops data later than the watermark and emits windows once") {
    import spark.implicits._
    val landing = tempDir("graft_wm_landing")
    def ts(day: Int, hour: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")
    // batch 1: three day-1 events + a day-3 sentinel that advances the
    // watermark (1h delay) far past day 1's window end
    writeOne(Seq(
      (1L, ts(1, 1), 10.0), (2L, ts(1, 2), 20.0), (3L, ts(1, 3), 30.0),
      (4L, ts(3, 12), 0.0)
    ).toDF("user_id", "ts", "value"), landing, "batch1.parquet")
    val schema = spark.read.parquet(landing.toString).schema
    val agg = spark.readStream.schema(schema)
      .parquet(landing.toString)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("graft_wm_test").start()
    try {
      // batch 1 fully processed (watermark now day-3 11:00) BEFORE the
      // late file lands — deterministic arrival order
      q.processAllAvailable()
      writeOne(Seq(
        (5L, ts(1, 4), 40.0), (6L, ts(1, 5), 50.0) // entirely late: day 1
      ).toDF("user_id", "ts", "value"), landing, "batch2.parquet")
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("graft_wm_test")
      .select(col("window.start").as("w"), col("n")).collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val day1 = Timestamp.valueOf("2024-01-01 00:00:00")
    // exactly one emission for day 1, counting ONLY the pre-watermark
    // rows: the two late arrivals were dropped, not merged or re-emitted
    assert(out.get(day1).contains(3L),
      s"day-1 window should count 3 on-time events, got $out")
    // day 3's window never closed (watermark never passed its end), so
    // append mode must not have emitted it
    assert(!out.contains(Timestamp.valueOf("2024-01-03 00:00:00")),
      s"open day-3 window must not be emitted in append mode: $out")
    spark.catalog.dropTempView("graft_wm_test")
  }

  /** sessionize's bounded-state trade-off emits a pre-open-session late
    * event as a closed singleton — a divergence from full-history batch
    * sessionization that is only sound while replay stays file-ordered.
    * sessionizeTable now asserts that soundness at action time (ADVICE
    * r4): an out-of-order replay must FAIL LOUDLY, and an in-order
    * replay of the same events must still merge into one session. */
  test("sessionize replay-order assertion: out-of-order late event fails loudly") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    def land(dir: Path, first: Seq[(Long, Timestamp, Long)],
        second: Seq[(Long, Timestamp, Long)]): Unit = {
      writeOne(first.toDF("user_id", "ts", "event_id"), dir, "events.parquet")
      writeOne(second.toDF("user_id", "ts", "event_id"), dir, "events.parquet_b")
      // the file source orders by mtime: make batch order explicit
      Files.setLastModifiedTime(dir.resolve("events.parquet_b"),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 10000))
    }
    // out of order: session opens at 10:10, then a LATER file delivers
    // a 10:00 event — within gap of the open start, the singleton arm
    val bad = tempDir("graft_sess_ooo")
    land(bad,
      Seq((7L, ts("2024-02-01 10:10:00"), 1L), (7L, ts("2024-02-01 10:12:00"), 2L)),
      Seq((7L, ts("2024-02-01 10:00:00"), 3L)))
    val ex = intercept[Exception] {
      graft.streaming.Streams
        .sessionizeTable(spark, bad.toString, maxFilesPerTrigger = Some(1))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("out of order")),
      s"expected the replay-order assertion, got: $ex")

    // control: the same events landed in order merge into one session
    val good = tempDir("graft_sess_ord")
    land(good,
      Seq((7L, ts("2024-02-01 10:00:00"), 3L)),
      Seq((7L, ts("2024-02-01 10:10:00"), 1L), (7L, ts("2024-02-01 10:12:00"), 2L)))
    val rows = graft.streaming.Streams
      .sessionizeTable(spark, good.toString, maxFilesPerTrigger = Some(1))
      .collect()
    assert(rows.length == 1 && rows.head.getLong(3) == 3L,
      s"in-order replay should merge into one 3-event session: ${rows.toSeq}")
  }
}
