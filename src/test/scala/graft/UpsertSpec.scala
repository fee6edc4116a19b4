package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

/** Cross-batch CDC-upsert semantics (streamUpsert / JdbcUpsert): a
  * later batch's change overwrites the stored row, a NEW key inserts,
  * and a late-replayed OLDER change does NOT clobber newer state —
  * proven with a three-file replay applied one file per micro-batch.
  */
class UpsertSpec extends AnyFunSuite {
  import SparkTestSession._

  private def writeOne(df: org.apache.spark.sql.DataFrame, dir: Path,
      name: String, mtimeMs: Long): Unit = {
    val staging = tempDir("graft_ups_stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    val dest = dir.resolve(name)
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    // explicit mtimes pin the FileStreamSource batch order
    Files.setLastModifiedTime(dest, FileTime.fromMillis(mtimeMs))
  }

  test("upsert applies inserts, updates, and ignores out-of-order older changes") {
    import spark.implicits._
    val dir = tempDir("graft_ups_landing")
    def ts(h: Int): Timestamp = Timestamp.valueOf(f"2024-02-01 $h%02d:00:00")
    def ev(id: Long, t: Timestamp, u: Long, v: Double) =
      (id, t, u, "update", v, "{}")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val base = System.currentTimeMillis() - 60000
    // batch 1: users 1, 2
    writeOne(Seq(ev(1, ts(10), 1L, 1.0), ev(2, ts(10), 2L, 2.0))
      .toDF(cols: _*), dir, "events.parquet", base)
    // batch 2: update user 2 (newer), insert user 3
    writeOne(Seq(ev(3, ts(11), 2L, 22.0), ev(4, ts(9), 3L, 3.0))
      .toDF(cols: _*), dir, "events.parquet2", base + 2000)
    // batch 3: LATE replay of an OLDER change for user 1, plus an
    // EQUAL-timestamp change for user 2 with a LOWER event_id — both
    // must be ignored (the cross-batch guard applies the same
    // (ts, event_id) tie-break as the within-batch reduce)
    writeOne(Seq(ev(0, ts(8), 1L, -99.0), ev(2, ts(11), 2L, -50.0))
      .toDF(cols: _*), dir, "events.parquet3", base + 4000)

    val out = Streams.streamUpsert(spark, dir.toString,
        maxFilesPerTrigger = Some(1), dbName = "graft_ups_spec")
      .collect().map(r => r.getLong(0) -> (r.getTimestamp(1), r.getDouble(2)))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == (ts(10), 1.0), s"older replay must not clobber: $out")
    assert(out(2L) == (ts(11), 22.0), s"newer change must overwrite: $out")
    assert(out(3L) == (ts(9), 3.0), s"new key must insert: $out")

    // idempotence: replaying the ENTIRE feed again ON TOP of the
    // existing table (reset=false) must leave it unchanged — the
    // crash-recovery property the order-guarded MERGE buys
    val out2 = Streams.streamUpsert(spark, dir.toString,
        maxFilesPerTrigger = Some(1), dbName = "graft_ups_spec",
        reset = false)
      .collect().map(r => r.getLong(0) -> (r.getTimestamp(1), r.getDouble(2)))
      .toMap
    assert(out2 == out, s"full replay must be a no-op: $out2 vs $out")
  }

  test("MERGE order guard: NULL loses within the lexicographic walk, not globally") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graft_ups_null;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      for (t <- Seq("nt", "ns")) {
        try st.execute(s"DROP TABLE $t")
        catch { case _: java.sql.SQLException => () }
        st.execute(s"CREATE TABLE $t (k BIGINT PRIMARY KEY, " +
          "ts BIGINT, seq BIGINT, v DOUBLE)")
      }
      // target rows with NULLs in different order-column positions:
      //   k=1: newer leading ts, NULL in the LOWER-significance seq —
      //        an older incoming change must NOT clobber it (the r12
      //        fix; the global IS-NULL escape overwrote it)
      //   k=2: equal leading ts, NULL at the DECISIVE seq — no version
      //        info where the comparison lands, incoming wins
      //   k=3: NULL leading ts — no version info at all, incoming wins
      st.execute("INSERT INTO nt VALUES (1, 10, NULL, 1.0)")
      st.execute("INSERT INTO nt VALUES (2, 10, NULL, 2.0)")
      st.execute("INSERT INTO nt VALUES (3, NULL, 5, 3.0)")
    } finally conn.close()
    val batch = Seq(
      (1L, 5L, 3L, -9.0),   // older than target's ts=10
      (2L, 10L, 1L, 22.0),  // ties the leading column, decisive seq NULL
      (3L, 1L, 0L, 33.0),   // target leading ts NULL
      (4L, 1L, 1L, 44.0))   // fresh key inserts
      .toDF("k", "ts", "seq", "v")
    graft.sinks.JdbcUpsert.upsertBatch(batch, url, "nt", "ns", "k",
      Seq("k", "ts", "seq", "v"), orderCols = Seq("ts", "seq"))
    val got = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "nt").load()
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got == Map(1L -> 1.0, 2L -> 22.0, 3L -> 33.0, 4L -> 44.0),
      s"lexicographic NULL semantics violated: $got")
  }
}
