package graft.streaming

import java.sql.Timestamp
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-streaming operators over the `events` table
  * (SURVEY.md §2.7). For verification the parquet file drives the
  * stream synchronously (`processAllAvailable` + memory sink), which
  * makes the windowed aggregate bit-comparable to the batch oracle; in
  * production the same plan runs against a live source with the
  * watermark bounding state.
  */
// Serializable: the stateful-operator closures (sessionize /
// sessionTimeoutTable's fn) call module helpers like tsUs/usTs, which
// lifts them to instance methods capturing this stateless module.
object Streams extends Serializable {

  /** Run `body` with a bounded state-partition count: bounded-replay
    * verification runs pay per-state-store setup cost, and 8 partitions
    * beats 32 for a 100k-row replay (a live deployment would size this
    * to key cardinality instead). */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Unique memory-sink table name; drops any previous table with the
    * same prefix first so repeated invocations (bench rounds, long
    * sessions) hold at most ONE materialized result per operator
    * instead of accumulating a copy per call. */
  private def freshMemoryTable(s: SparkSession, prefix: String): String = {
    s.catalog.listTables().collect()
      .filter(_.name.startsWith(prefix))
      .foreach(t => s.catalog.dropTempView(t.name))
    s"${prefix}_${System.nanoTime()}"
  }

  /** Drive a bounded stream to completion into a fresh memory sink and
    * return the materialized table — the one replay harness every
    * operator here shares (4 state partitions during replay — measured faster than 8 or 2; see
    * [[withStatePartitions]]). */
  private def runToMemory(s: SparkSession, df: DataFrame, prefix: String,
      mode: String, afterFirstDrain: () => Unit = () => ()): DataFrame = {
    val name = freshMemoryTable(s, prefix)
    // Bounded-replay checkpoints are EPHEMERAL — re-running the replay
    // IS the recovery story — so they live in RAM (/dev/shm) when the
    // host has it: the default temp checkpoint lands on disk, where
    // every micro-batch fsyncs state-store deltas plus offset/commit
    // logs. An empty replay of stream_interval_left costs as much as
    // the full sf0.1 one (stream_floor_r12.json: 5.26 vs 5.27 s), so
    // that per-batch machinery is the replay floor; RAM checkpoints
    // cut it 5.83 → 4.39 s (BASELINE.md). A LIVE deployment sets
    // a durable checkpointLocation instead — this path is only taken
    // when the caller did not configure one.
    // capacity-gated: containers often mount /dev/shm at 64 MB, where
    // state deltas would hit ENOSPC mid-batch — require real headroom
    // (1 GiB) before preferring RAM over the disk default
    val shm = new java.io.File("/dev/shm")
    val ckpt: Option[java.nio.file.Path] =
      if (shm.isDirectory && shm.canWrite &&
          shm.getUsableSpace > (1L << 30))
        Some(java.nio.file.Files.createTempDirectory(shm.toPath, "graft_ckpt"))
      else None
    try {
      withStatePartitions(s, 4) {
        var w = df.writeStream.outputMode(mode)
          .format("memory").queryName(name)
        ckpt.foreach(p => w = w.option("checkpointLocation", p.toString))
        val q = w.start()
        try {
          q.processAllAvailable()
          // hook for callers that must land more input (e.g. a watermark
          // heartbeat) and drain again before the query stops
          afterFirstDrain()
          q.processAllAvailable()
        } finally q.stop()
      }
      // pin the (small) result: the NEXT invocation of the same operator
      // drops this temp view (see freshMemoryTable), which would turn a
      // still-held lazy reference into a table-not-found error mid-use
      s.table(name).localCheckpoint()
    } finally ckpt.foreach(p => FileUtils.deleteQuietly(p.toFile))
  }

  private def eventStream(s: SparkSession, d: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(s"$d/events.parquet").schema
    // glob form: FileStreamSource requires a directory/glob, not a file
    var reader = s.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n =>
      reader = reader.option("maxFilesPerTrigger", n.toString))
    val raw = reader.parquet(s"$d/events.parqu*")
    // normalise ts to TIMESTAMP whatever the stored unit/annotation —
    // withWatermark rejects both BIGINT and TIMESTAMP_NTZ
    graft.Tables.adaptEventTs(raw)
  }

  /** Tumbling 1-day event-time windows with a watermark; complete mode
    * so the bounded replay emits every window (batch-equivalent). */
  def windowedAgg(s: SparkSession, d: String): DataFrame = {
    val agg = eventStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").as("total"))
    runToMemory(s, agg, "graft_win_agg", "complete")
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))
      .orderBy(col("window_start"), col("event_type"))
  }

  val windowedAggSql: String =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  /** Streaming exact dedup: the bounded source replayed TWICE (every
    * event duplicated), deduplicated in-flight by event_id with
    * watermark-bounded state — the at-least-once→effectively-once
    * repair stage of a production ingest. State holds only ids newer
    * than the watermark (`dropDuplicatesWithinWatermark`), so it is
    * bounded by arrival skew, not stream length. Output must equal the
    * batch-distinct oracle exactly. */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val doubled = eventStream(s, d).union(eventStream(s, d))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"))
    runToMemory(s, doubled, "graft_stream_dedup", "append")
      .orderBy(col("event_id"))
  }

  val streamDedupSql: String =
    "SELECT event_id, user_id, event_type FROM events ORDER BY event_id"

  /** Stream-stream interval join: errors within 5 minutes BEFORE each
    * purchase, both sides watermarked so the join state is bounded —
    * Spark buffers each side only until the other side's watermark
    * passes the interval bound. Mirrors the batch range join (q25);
    * the oracle is the same plain SQL. */
  def intervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = eventStream(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val joined = p.join(e,
      col("p_user") === col("e_user") &&
        col("e_ts") <= col("p_ts") &&
        col("e_ts") >= col("p_ts") - expr("interval 5 minutes"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("error_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("e_ts"))).as("gap_us"))
    runToMemory(s, joined, "graft_interval_join", "append")
      .orderBy(col("user_id"), col("purchase_id"), col("error_id"))
  }

  /** Stream-stream LEFT OUTER interval join: every purchase, with its
    * in-window errors OR a NULL row if none arrived. Outer results can
    * only be emitted once the OTHER side's watermark proves no match
    * can still arrive — on a bounded replay the natural watermark
    * stalls at max(event time) − delay, stranding the tail in state.
    * The production fix demonstrated here: a WATERMARK HEARTBEAT — a
    * synthetic far-future event unioned into each side (filtered from
    * results) advances the watermark past every real row, and one more
    * (empty-data) trigger flushes the evicted unmatched rows. Oracle =
    * the batch LEFT JOIN. */
  def intervalJoinLeft(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Files
    // far-future heartbeat rows, landed as a second streamed file set
    val maxTs = graft.Tables.events(s, d)
      .agg(max(col("ts"))).head().getTimestamp(0)
    require(maxTs != null,
      "events table is empty: no heartbeat anchor for the interval join")
    val hbDir = Files.createTempDirectory("graft_hb").toString
    def landHeartbeat(idx: Int, plusDays: Int): Unit = {
      import s.implicits._
      val hbTs = new Timestamp(maxTs.getTime + plusDays * 86400000L)
      Seq((-1L - idx, hbTs, -1L, "heartbeat", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(hbDir)
    }
    landHeartbeat(0, 1)
    // the heartbeat files carry a proper µs TIMESTAMP — read them with
    // their OWN schema (the testdata events file surfaces nanos-longs
    // and is normalized inside eventStream)
    val hbSchema = s.read.parquet(hbDir).schema
    // sentinels are (negative event_id, type 'heartbeat'): BOTH checks,
    // so a corpus whose genuine rows use the type 'heartbeat' is
    // neither injected into a join side nor silently dropped later
    def side(realType: String): DataFrame =
      eventStream(s, d)
        .unionByName(s.readStream.schema(hbSchema).parquet(hbDir))
        .filter(col("event_type") === realType ||
          (col("event_type") === "heartbeat" && col("event_id") < 0))
    val p = side("purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("event_type").as("p_type"))
      .withWatermark("p_ts", "1 hour")
    val e = side("error")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    // NOTE: the heartbeat rows must NOT be filtered inside this plan —
    // Catalyst pushes a post-join `p_user >= 0` down into the purchase
    // side, below its watermark node, silently starving the watermark
    // (observed: the outer tail never flushes). They are dropped on
    // the materialized result instead.
    val joined = p.join(e,
        col("p_user") === col("e_user") &&
          col("e_ts") <= col("p_ts") &&
          col("e_ts") >= col("p_ts") - expr("interval 5 minutes"),
        "left_outer")
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("error_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("e_ts"))).as("gap_us"),
        col("p_type"))
    // the watermark used by batch N is computed after batch N-1, so
    // eviction of the outer tail trails by one trigger: one later
    // heartbeat forces that final batch
    try {
      runToMemory(s, joined, "graft_interval_left", "append",
          afterFirstDrain = () => landHeartbeat(1, 2))
        // drop heartbeats by their sentinel type (NOT the user_id sign —
        // a corpus with negative user ids must keep its genuine rows);
        // safe post-materialization, no watermark-starving pushdown
        .filter(col("p_type") =!= "heartbeat")
        .drop("p_type")
        .orderBy(col("user_id"), col("purchase_id"), col("error_id"))
        // materialize BEFORE deleting the heartbeat files the plan reads
        .localCheckpoint()
    } finally {
      // reclaim the temp dir on EVERY path (a failed run must not
      // accumulate /tmp litter across bench/verify rounds)
      FileUtils.deleteQuietly(new java.io.File(hbDir))
    }
  }

  val intervalJoinLeftSql: String =
    """SELECT p.user_id AS user_id, p.event_id AS purchase_id,
      |  e.event_id AS error_id,
      |  epoch_us(p.ts) - epoch_us(e.ts) AS gap_us
      |FROM events p
      |LEFT JOIN events e ON p.user_id = e.user_id
      |  AND e.event_type = 'error'
      |  AND epoch_us(p.ts) - epoch_us(e.ts) BETWEEN 0 AND 300000000
      |WHERE p.event_type = 'purchase'
      |ORDER BY user_id, purchase_id, error_id""".stripMargin

  val intervalJoinSql: String =
    """SELECT p.user_id AS user_id, p.event_id AS purchase_id,
      |  e.event_id AS error_id,
      |  epoch_us(p.ts) - epoch_us(e.ts) AS gap_us
      |FROM events p
      |JOIN events e ON p.user_id = e.user_id
      |  AND p.event_type = 'purchase' AND e.event_type = 'error'
      |  AND epoch_us(p.ts) - epoch_us(e.ts) BETWEEN 0 AND 300000000
      |ORDER BY user_id, purchase_id, error_id""".stripMargin

  // ---- stateful sessionization (flatMapGroupsWithState) ----------------

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long)
  case class Session(user_id: Long, start: Timestamp, end: Timestamp, n_events: Long)
  case class SessState(startUs: Long, lastUs: Long, numEvents: Long)

  /** Exact epoch microseconds of a Timestamp (getTime alone truncates
    * to ms — the events table has sub-ms components). */
  private def tsUs(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
  private def usTs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** Custom state machine: per-user sessions closed after `gapSec` of
    * inactivity. The streaming analogue of Analytics.q18 — tested for
    * agreement with it in StreamingSpec.
    *
    * Cross-batch semantics: the OPEN session is carried in state and
    * RESUMED when the user's next micro-batch arrives, so a session
    * split across batches stays one session. Emission is update-style:
    * every invocation emits a snapshot of each session it touched,
    * keyed by (user, start) — a later batch that extends a session
    * re-emits the same (user, start) with a larger end/count, and the
    * consumer keeps the latest snapshot per key (see sessionizeTable's
    * final aggregate). This is exactly how an upsert sink (Delta/JDBC
    * merge) would consume it at scale.
    */
  def sessionize(s: SparkSession, events: Dataset[Ev],
      gapSec: Long = 1800): Dataset[Session] = {
    import s.implicits._
    def fn(user: Long, it: Iterator[Ev], state: GroupState[SessState]): Iterator[Session] = {
      val evs = it.toSeq.sortBy(e => (tsUs(e.ts), e.event_id))
      if (evs.isEmpty) return Iterator.empty
      var touched = List.empty[SessState]
      // resume the open session from the previous batch, if any
      var cur: Option[SessState] = state.getOption
      for (e <- evs) {
        val t = tsUs(e.ts)
        cur = cur match {
          case Some(c) if t > c.lastUs && t - c.lastUs <= gapSec * 1000000L =>
            Some(c.copy(lastUs = t, numEvents = c.numEvents + 1))
          // cross-batch LATE events (within-batch order is fixed by the
          // sort above): an unguarded `t - lastUs <= gap` would merge
          // ANY regression (negative delta) and move lastUs backwards,
          // corrupting the open session's state
          case Some(c) if t >= c.startUs && t <= c.lastUs =>
            // inside the open span: counts toward the session, bounds
            // unchanged — matches the batch sessionizer exactly
            Some(c.copy(numEvents = c.numEvents + 1))
          case Some(c) if t < c.startUs =>
            // before the open session: emit as its own closed singleton
            // rather than corrupting state. A batch sessionizer with
            // full history could merge it when startUs - t <= gap —
            // the documented correction-free bounded-state trade-off.
            // Replayed testdata is file-ordered so this arm is
            // adversarial-input armor; if replay ever STOPS being
            // ordered, the divergence is caught at run time by
            // sessionizeTable's within-gap adjacency assertion instead
            // of surfacing as a silent oracle hash mismatch
            touched ::= SessState(t, t, 1)
            Some(c)
          case Some(c) =>
            touched ::= c // closed: this snapshot is final
            Some(SessState(t, t, 1))
          case None => Some(SessState(t, t, 1))
        }
      }
      cur.foreach { c =>
        touched ::= c // open: snapshot now, superseded if extended later
        state.update(c)
      }
      touched.reverseIterator.map(c =>
        Session(user, usTs(c.startUs), usTs(c.lastUs), c.numEvents))
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Run sessionize over the events table as a bounded stream; the
    * final aggregate keeps the LATEST snapshot per (user, start) —
    * within one session end/count only grow, so max() selects it. */
  def sessionizeTable(s: SparkSession, d: String, gapSec: Long = 1800,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import s.implicits._
    val evs = eventStream(s, d, maxFilesPerTrigger)
      .select(col("user_id"), col("ts"), col("event_id")).as[Ev]
    val sessions = runToMemory(s, sessionize(s, evs, gapSec).toDF(),
        "graft_sessions", "update")
      .groupBy(col("user_id"), col("start"))
      .agg(max(col("end")).as("end"), max(col("n_events")).as("n_events"))
    assertSessionSeparation(sessions, gapSec)
      .orderBy(col("user_id"), col("start"))
  }

  /** Replay-order soundness assertion: the bounded-state sessionizers
    * emit a pre-start late event as a closed singleton, which diverges
    * from a full-history batch sessionizer exactly when two of a user's
    * output sessions end up within gapSec of each other (a sound replay
    * always separates consecutive sessions by MORE than the gap — that
    * is what closed them). File-ordered replay cannot produce a
    * violation; if replay ever stops being ordered, this fails the
    * query loudly at action time instead of silently hash-diverging
    * from the oracle. */
  private def assertSessionSeparation(sessions: DataFrame, gapSec: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("start"))
    sessions
      .withColumn("_prev_end_us", lag(unix_micros(col("end")), 1).over(w))
      .filter(assert_true(
        col("_prev_end_us").isNull ||
          unix_micros(col("start")) - col("_prev_end_us") > gapSec * 1000000L,
        lit("sessionize replay out of order: consecutive sessions within " +
          "gap — see the pre-start late-event arm in Streams.sessionize"))
        .isNull)
      .drop("_prev_end_us")
  }

  /** `stream_session_timeout` — timeout-CLOSED sessionization: the
    * production pattern [[sessionize]] deliberately avoids. There,
    * sessions close only when the user's NEXT event arrives (upsert
    * snapshots, consumer keeps the latest); here every session is
    * emitted EXACTLY ONCE, at close — in-stream closes (next event
    * beyond the gap) emit on data, and tail sessions close via
    * `GroupStateTimeout.EventTimeTimeout` when the event-time watermark
    * passes `last + gap`, with no later event needed. Far-future
    * heartbeat rows (sentinel user, landed as a second streamed file
    * set — the intervalJoinLeft pattern) advance the watermark past
    * every real session so the bounded replay closes them all; the
    * output therefore equals full batch sessionization, under
    * emit-once semantics instead of upsert snapshots.
    *
    * 100 TB: state holds ONE open session per active user and the
    * watermark reaps it — the unbounded-stream-safe shape. */
  def sessionTimeoutTable(s: SparkSession, d: String, gapSec: Long = 1800,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import s.implicits._
    import java.nio.file.Files
    val HbUser = -999999L
    // CHECKED, not assumed: a real event on the sentinel
    // key would merge into its session state and be silently dropped
    // with it — same scan as the heartbeat anchor, so the guard is free
    val anchor = graft.Tables.events(s, d)
      .agg(max(col("ts")), min(col("user_id"))).head()
    val maxTs = anchor.getTimestamp(0)
    require(maxTs != null, "events table is empty: no heartbeat anchor")
    require(anchor.getLong(1) > HbUser,
      s"user_id $HbUser exists in events — sentinel key not free")
    val hbDir = Files.createTempDirectory("graft_hb_sess").toString
    def landHeartbeat(idx: Int, plusDays: Int): Unit = {
      val hbTs = new Timestamp(maxTs.getTime + plusDays * 86400000L)
      Seq((-1L - idx, hbTs, HbUser, "heartbeat", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(hbDir)
    }
    landHeartbeat(0, 1)
    val hbSchema = s.read.parquet(hbDir).schema
    val evs = eventStream(s, d, maxFilesPerTrigger)
      .unionByName(s.readStream.schema(hbSchema).parquet(hbDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props")))
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), col("event_id")).as[Ev]
    def fn(user: Long, it: Iterator[Ev],
        state: GroupState[SessState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        // the watermark passed last+gap: the open session closes NOW
        val c = state.get
        state.remove()
        return Iterator.single(
          Session(user, usTs(c.startUs), usTs(c.lastUs), c.numEvents))
      }
      val sorted = it.toSeq.sortBy(e => (tsUs(e.ts), e.event_id))
      if (sorted.isEmpty) return Iterator.empty
      var closed = List.empty[SessState]
      var cur: Option[SessState] = state.getOption
      for (e <- sorted) {
        val t = tsUs(e.ts)
        cur = cur match {
          case Some(c) if t > c.lastUs && t - c.lastUs <= gapSec * 1000000L =>
            Some(c.copy(lastUs = t, numEvents = c.numEvents + 1))
          case Some(c) if t >= c.startUs && t <= c.lastUs =>
            Some(c.copy(numEvents = c.numEvents + 1))
          case Some(c) if t < c.startUs =>
            // pre-start late event: same bounded-state armor as
            // sessionize; the separation assertion guards the oracle
            closed ::= SessState(t, t, 1)
            Some(c)
          case Some(c) =>
            closed ::= c // in-stream close: gap exceeded by this event
            Some(SessState(t, t, 1))
          case None => Some(SessState(t, t, 1))
        }
      }
      cur.foreach { c =>
        // CEILING ms: floor truncation of sub-ms lastUs could fire the
        // timeout up to 1 ms before last+gap elapses, closing a session
        // a boundary event at exactly lastUs+gap must extend (both the
        // state-machine arm and the oracle use > gap)
        val closeAtMs = (c.lastUs + 999L) / 1000L + gapSec * 1000L
        if (closeAtMs <= state.getCurrentWatermarkMs()) {
          closed ::= c // watermark already beyond last+gap: close now
        } else {
          state.update(c)
          state.setTimeoutTimestamp(closeAtMs)
        }
      }
      closed.reverseIterator.map(c =>
        Session(user, usTs(c.startUs), usTs(c.lastUs), c.numEvents))
    }
    val sessions = evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(fn)
    try {
      // watermark trails by one trigger: the second heartbeat forces
      // the batch whose watermark reaps every remaining real session
      val out = runToMemory(s, sessions.toDF(), "graft_sess_to", "update",
        afterFirstDrain = () => landHeartbeat(1, 2))
      // the sentinel's own (heartbeat-only) sessions, dropped post-
      // materialization — an in-plan filter would push below the
      // watermark node and starve it (see intervalJoinLeft)
      assertSessionSeparation(out.filter(col("user_id") =!= HbUser), gapSec)
        .orderBy(col("user_id"), col("start"))
    } finally FileUtils.deleteQuietly(new java.io.File(hbDir))
  }

  /** Identical result set to full batch sessionization: every real
    * session closes (in-stream or by watermark timeout), each emitted
    * once. */
  val sessionTimeoutSql: String =
    """SELECT user_id, MIN(ts) AS start, MAX(ts) AS "end",
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM (
      |  SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |      CASE WHEN LAG(ts) OVER w IS NULL
      |             OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
      |           THEN 1 ELSE 0 END AS new_s
      |    FROM events
      |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)))
      |GROUP BY user_id, sess
      |ORDER BY user_id, start""".stripMargin

  // ---- stream_anomaly: per-key event-rate anomaly flags ----------------

  case class AEv(event_type: String, ts: Timestamp)
  case class ADay(dayUs: Long, c: Long)
  case class AnomState(open: Seq[ADay], n: Long, s: Long, q: Long,
      maxFinalizedDayUs: Long)
  case class AnomRow(event_type: String, window_start: Timestamp,
      n_events: Long, n_prior: Long, anomaly: Boolean)

  /** `stream_anomaly` — streaming rate-anomaly detection: per event
    * type, each closed 1-day window's count is tested against the
    * running mean/variance of all PRIOR closed windows of that key
    * (flag iff n≥3 prior windows and |c−μ| > 2σ), the alerting
    * primitive every ops pipeline runs on its event stream. One
    * flatMapGroupsWithState keyed by event type does both jobs: open
    * windows accumulate counts in state, and when the event-time
    * watermark passes a window's end the window CLOSES — in event-time
    * order, because the watermark is monotone — emitting its flag
    * exactly once and folding its count into the running (n, Σc, Σc²).
    *
    * The z-test is INTEGER-exact: |c−μ| > 2σ ⟺ (c·n−s)² > 4(n·q−s²)
    * with s = Σc, q = Σc² over prior windows — no floating point, so
    * flags are bit-identical to the oracle's window-function replay
    * regardless of batch boundaries. State per key is the open-window
    * tail (bounded by watermark skew: ≤ 2 days) plus three counters;
    * emitted days leave state immediately.
    *
    * 100 TB: keys partition the stream (shuffle on event_type), state
    * is O(keys × watermark-skew windows) — independent of stream
    * length; the counters never rescan history. The BIGINT test is
    * exact while c·n < 2⁶³ (≈ 3e9 events/day × 3e9 days — beyond any
    * real stream; past it, scale the counters to means). Watermark
    * heartbeats close the tail windows on the bounded replay exactly
    * as in stream_session_timeout. */
  def streamAnomaly(s: SparkSession, d: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import s.implicits._
    import java.nio.file.Files
    val HbType = "heartbeat"
    // CHECKED, not assumed: real rows of the sentinel
    // type would merge into its windows and be dropped by the
    // post-materialization filter — same scan as the anchor lookup
    val anchor = graft.Tables.events(s, d).agg(max(col("ts")),
      sum(when(col("event_type") === HbType, 1L).otherwise(0L))).head()
    val maxTs = anchor.getTimestamp(0)
    require(maxTs != null, "events table is empty: no heartbeat anchor")
    require(anchor.getLong(1) == 0L,
      s"event_type '$HbType' exists in events — sentinel type not free")
    val hbDir = Files.createTempDirectory("graft_hb_anom").toString
    def landHeartbeat(idx: Int, plusDays: Int): Unit = {
      val hbTs = new Timestamp(maxTs.getTime + plusDays * 86400000L)
      Seq((-1L - idx, hbTs, -999999L, HbType, 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(hbDir)
    }
    landHeartbeat(0, 1)
    val hbSchema = s.read.parquet(hbDir).schema
    val evs = eventStream(s, d, maxFilesPerTrigger)
      .unionByName(s.readStream.schema(hbSchema).parquet(hbDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props")))
      .withWatermark("ts", "1 hour")
      .select(col("event_type"), col("ts")).as[AEv]
    val DayUs = 86400000000L
    def fn(key: String, it: Iterator[AEv],
        state: GroupState[AnomState]): Iterator[AnomRow] = {
      var st = state.getOption.getOrElse(AnomState(Nil, 0L, 0L, 0L, Long.MinValue))
      if (!state.hasTimedOut) {
        val m = collection.mutable.Map(st.open.map(dd => dd.dayUs -> dd.c).toSeq: _*)
        it.foreach { e =>
          val day = Math.floorDiv(tsUs(e.ts), DayUs) * DayUs
          // drop rows later than an already-CLOSED window — the same
          // semantics as Spark's built-in late-row drop for windowed
          // aggregations; re-opening a finalized day would double-emit
          // it (reachable only when the replay's file split is not
          // time-ordered past the watermark delay)
          if (day > st.maxFinalizedDayUs)
            m(day) = m.getOrElse(day, 0L) + 1L
        }
        st = st.copy(open = m.toSeq.map { case (k, v) => ADay(k, v) })
      }
      // close every open window the watermark has passed, oldest first
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val (done, still) = st.open.partition(_.dayUs + DayUs <= wmUs)
      var (n, sum, q) = (st.n, st.s, st.q)
      val out = done.sortBy(_.dayUs).map { dd =>
        val dev = dd.c * n - sum
        val anom = n >= 3 && dev * dev > 4L * (n * q - sum * sum)
        val row = AnomRow(key, usTs(dd.dayUs), dd.c, n, anom)
        n += 1; sum += dd.c; q += dd.c * dd.c
        row
      }
      val maxFin = (st.maxFinalizedDayUs +: done.map(_.dayUs)).max
      state.update(AnomState(still, n, sum, q, maxFin))
      if (still.nonEmpty)
        state.setTimeoutTimestamp(still.map(_.dayUs + DayUs).min / 1000L)
      out.iterator
    }
    val flags = evs.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(fn)
    try {
      val out = runToMemory(s, flags.toDF(), "graft_anom", "update",
        afterFirstDrain = () => landHeartbeat(1, 2))
      // the sentinel key's own windows, dropped post-materialization
      // (an in-plan filter would push below the watermark node)
      out.filter(col("event_type") =!= HbType)
        .orderBy(col("event_type"), col("window_start"))
    } finally FileUtils.deleteQuietly(new java.io.File(hbDir))
  }

  /** Every closed window flagged against prior-window running stats —
    * the same integer z²-test as a batch window-function replay. */
  val streamAnomalySql: String =
    """WITH w AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
      |    CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, window_start, n_events,
      |    CAST(COUNT(*) OVER pw AS BIGINT) AS n_prior,
      |    CAST(COALESCE(SUM(n_events) OVER pw, 0) AS BIGINT) AS s,
      |    CAST(COALESCE(SUM(n_events * n_events) OVER pw, 0) AS BIGINT) AS q
      |  FROM w
      |  WINDOW pw AS (PARTITION BY event_type ORDER BY window_start
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT event_type, window_start, n_events, n_prior,
      |  (n_prior >= 3 AND
      |   (n_events * n_prior - s) * (n_events * n_prior - s)
      |     > 4 * (n_prior * q - s * s)) AS anomaly
      |FROM r
      |ORDER BY event_type, window_start""".stripMargin

  // ---- stream_versioned_sink: exactly-once lakehouse ingestion ---------

  /** `stream_versioned_sink` — streaming ingestion INTO the
    * manifest-MVCC store (the etl_time_travel shape): each micro-batch
    * is one commit — new files under `files/b<batchId>` plus a
    * manifest listing every live file, written LAST so the manifest IS
    * the commit. The sink is EXACTLY-ONCE by construction: a batch
    * retry finds its version's manifest already present and skips
    * (idempotent), a crash between files and manifest leaves the
    * previous version fully readable and the retry overwrites the
    * orphan files in place. This is the Delta/Iceberg streaming-sink
    * discipline (idempotent foreachBatch commits keyed by batchId)
    * composed with this repo's own version store — every committed
    * version stays AS-OF-readable afterwards (spec drives a two-batch
    * replay and reads both snapshots).
    *
    * The gated audit reads the LATEST committed snapshot through the
    * manifest resolver and reports (rows, key checksum) — equal to the
    * batch table iff no event was lost or duplicated across commits.
    *
    * 100 TB: commit cost ∝ the batch, manifest cost ∝ file count,
    * and readers never list directories; the retry discipline is what
    * makes `availableNow` backfills restartable mid-stream. */
  def versionedSink(s: SparkSession, d: String,
      maxFilesPerTrigger: Option[Int] = None,
      storeDir: Option[String] = None): DataFrame = {
    // keyed on the events table's content: regenerating the events
    // data at the same path within one process would otherwise leave
    // stale manifests whose batch ids match, so every commit skips as
    // "already committed" and the audit reports the OLD data
    val base = storeDir.getOrElse(graft.SourceKey.scratchDir("vsink", d, "events"))
    new java.io.File(s"$base/manifests").mkdirs()
    // ONE manifest-naming definition (ManifestCommit)
    def manifestPath(v: Long) =
      java.nio.file.Paths.get(graft.etl.ManifestCommit.manifestPath(base, v))
    def readManifest(v: Long): Seq[String] = {
      val src = scala.io.Source.fromFile(manifestPath(v).toFile, "UTF-8")
      try src.getLines().toList finally src.close()
    }
    val q = eventStream(s, d, maxFilesPerTrigger)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .writeStream.outputMode("append")
      // checkpoint INSIDE the store: batchId-keyed idempotence is only
      // sound while batchId→input is stable, and without a checkpoint
      // batch ids restart at 0 with whatever batching the NEXT run
      // uses (a different maxFilesPerTrigger would then double-count
      // under the presence-check skip). With the offsets
      // log pinned to the store, a re-run resumes instead of replaying,
      // which is the Delta (queryId, batchId) discipline this sink
      // cites.
      .option("checkpointLocation", s"$base/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val v = batchId + 1
        // idempotent commit: the manifest's presence IS the marker
        if (!java.nio.file.Files.exists(manifestPath(v))) {
          val rel = s"files/b$batchId"
          batch.write.mode("overwrite").parquet(s"$base/$rel")
          // grouped layout past the GroupSize gate needs its group dir
          manifestPath(v).toFile.getParentFile.mkdirs()
          val entries = (if (v == 1) Nil else readManifest(v - 1)) :+ rel
          // CAS-create (ManifestCommit discipline): a plain write
          // crashed mid-stream would leave a truncated manifest whose
          // PRESENCE reads as a commit; staged-tmp + link(2) makes the
          // marker all-or-nothing, and a lost race (replayed batch,
          // deterministic content) is simply the idempotent no-op
          graft.etl.ManifestCommit.casFile(manifestPath(v).toString,
            entries.mkString("\n")): Unit
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // store/checkpoint consistency gate: a batch the checkpoint marks
    // committed is never replayed, so a manifest that vanished
    // out-of-band (bad vacuum, manual delete) would otherwise read as
    // a silently older snapshot forever. Detect loudly; the recovery
    // is wiping $base/_checkpoint, which replays from source and
    // re-commits idempotently (presence-check skips survivors).
    val commits = Option(new java.io.File(s"$base/_checkpoint/commits")
      .listFiles).getOrElse(Array.empty)
      .flatMap(f => scala.util.Try(f.getName.toLong).toOption)
    commits.maxOption.foreach { lastBatch =>
      val latest = latestVersion(base)
      require(latest >= lastBatch + 1,
        s"versioned store lost manifests: checkpoint committed batch " +
          s"$lastBatch but latest manifest is v$latest — restore the " +
          s"manifests or wipe $base/_checkpoint to replay from source")
    }
    versionedSnapshot(s, base, latestVersion(base))
      .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("key_sum"))
  }

  /** Highest committed version in a versioned-sink store — the shared
    * tmp-tolerant scan (ManifestCommit.currentVersionLong). */
  def latestVersion(base: String): Long =
    graft.etl.ManifestCommit.currentVersionLong(base)

  /** AS-OF read of a committed sink version through its manifest. */
  def versionedSnapshot(s: SparkSession, base: String, v: Long): DataFrame = {
    require(v >= 1, s"no committed version in $base")
    val src = scala.io.Source.fromFile(
      graft.etl.ManifestCommit.manifestPath(base, v), "UTF-8")
    val rels = try src.getLines().toList finally src.close()
    s.read.parquet(rels.map(r => s"$base/$r"): _*)
  }

  /** Lossless ingestion: the latest snapshot carries exactly the batch
    * table's rows. */
  val versionedSinkSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(event_id) AS BIGINT) AS key_sum
      |FROM events""".stripMargin

  /** `stream_delta_sink` — the versioned streaming sink published as a
    * Delta table: the stream lands through the SAME exactly-once
    * commit discipline as stream_versioned_sink (idempotent
    * batchId-keyed manifests, CAS markers), then every commit is
    * exported as one Delta-log version
    * ([[graft.etl.DeltaExport.exportUnpartitioned]] — append-only adds,
    * footer-true stats) and the audit reads the result back through the
    * GENERIC protocol reader ([[graft.etl.DeltaImport.snapshot]]), not
    * the manifests — so any Delta-speaking engine can tail the
    * stream's output table. The oracle is the same lossless-ingestion
    * claim (exact events count + key checksum): a log that lists
    * wrong/stale files, or a mount that drops or duplicates a commit,
    * fails the hash.
    *
    * 100 TB: export cost ∝ new files per commit (append-only diff —
    * nothing re-read), mount cost ∝ live files; both metadata-side.
    * maxFilesPerTrigger=2 forces a multi-commit history so the replay
    * crosses version boundaries at every SF. */
  def deltaSink(s: SparkSession, d: String): DataFrame = {
    val base = graft.SourceKey.scratchDir("vdsink", d, "events")
    versionedSink(s, d, maxFilesPerTrigger = Some(2),
      storeDir = Some(base)).collect(): Unit // bounded: the 1-row audit
    lastDeltaSinkBase = base
    val schemaJson = versionedSnapshot(s, base, 1L).schema.json
    graft.etl.DeltaExport.exportUnpartitioned(base, schemaJson)
    graft.etl.DeltaImport.snapshot(s, base)
      .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("key_sum"))
  }

  /** Store base of the last in-process `stream_delta_sink` run (spec
    * access — the StreamingPipelineSpec log/replay checks). */
  @volatile private[graft] var lastDeltaSinkBase: String = _

  val deltaSinkSql: String = versionedSinkSql

  /** Streaming corpus curation, end to end: the documents table
    * replayed as a landing stream → quality gate (Curation.withReasons,
    * reasons == 0) → cross-batch exact dedup on (lang, content
    * fingerprint) via streaming dropDuplicates state → per-language
    * corpus statistics in complete mode. The dedup key includes lang so
    * which arrival survives is irrelevant to the output — every
    * surviving row of a (lang, fp) group carries identical (fp,
    * n_chars), making the result batch-order-independent and
    * oracle-comparable. The full curation pipeline a training-data
    * ingest runs, as ONE continuous query. */
  def streamCorpus(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val docs = s.readStream.schema(schema).parquet(s"$d/documents.parqu*")
    // Filter placement vs the O(words²) trap (SURVEY §6), measured:
    // ANY filter whose condition must materialize `reasons` directly
    // above the gate projection evaluates the re-inlined split per
    // array element (4.3 s vs 0.5 s at sf0.1 — a nondeterministic
    // identity-UDF barrier does NOT avoid it). The dedup aggregate
    // keeps the projection layered, so the full gate filter goes
    // AFTER dropDuplicates — result-identical because the dedup key
    // is the FULL text, so reasons are uniform within every group.
    // To bound the dedup state, the lambda-free length rule (gate
    // bit 1, a plain column compare that pushes to the scan
    // harmlessly) pre-prunes before the stateful op: state holds only
    // length-passing docs, and dropping gate-failing docs before the
    // dedup cannot change the output (their groups fail afterwards
    // anyway).
    val curated = graft.operators.Curation.withReasons(
        docs.filter(col("n_chars") >= graft.operators.Curation.MinChars))
      // full md5, matching the oracle's DISTINCT md5(text) key exactly
      // (a truncated fingerprint would make the equivalence merely
      // probabilistic under prefix collisions)
      .withColumn("fp", md5(col("text")))
      .select(col("lang"), col("fp"), col("n_chars"), col("reasons"))
      .dropDuplicates("lang", "fp")
      .filter(col("reasons") === 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
    runToMemory(s, curated, "graft_stream_corpus", "complete")
      .orderBy(col("lang"))
  }

  val streamCorpusSql: String = {
    import graft.operators.Curation.GateReasonsSql
    s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM (
       |  SELECT DISTINCT lang, md5(text) AS fp, n_chars
       |  FROM documents
       |  WHERE doc_id IN (SELECT doc_id FROM ($GateReasonsSql)
       |                   WHERE reasons = 0))
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  /** CDC upsert into an RDBMS: the event stream is applied as a change
    * feed — per micro-batch, reduce to the latest change per key, stage
    * via the parallel JDBC sink, and apply ONE set-based MERGE
    * (JdbcUpsert). The final table holds exactly the latest event per
    * user regardless of how the replay was batched — the idempotent
    * upsert-apply counterpart of the reference's append-only COPY
    * loader. Cross-batch overwrite semantics are spec-verified with a
    * two-file replay. */
  def streamUpsert(s: SparkSession, d: String,
      maxFilesPerTrigger: Option[Int] = None,
      dbName: String = "graft_ups",
      reset: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val url = s"jdbc:derby:memory:$dbName;create=true"
    // reset=false replays ON TOP of the existing table — the
    // crash-recovery path, which the order-guarded MERGE must make a
    // no-op (asserted in UpsertSpec)
    if (reset) {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        for (t <- Seq("ups_t", "ups_stage")) {
          try st.execute(s"DROP TABLE $t")
          catch { case _: java.sql.SQLException => () } // first run: no table
          // last_event_id is stored so the cross-batch order guard can
          // apply the SAME (ts, event_id) tie-break as the within-batch
          // reduce — final state is then independent of replay batching
          st.execute(s"CREATE TABLE $t (user_id BIGINT PRIMARY KEY, " +
            "last_ts TIMESTAMP, last_event_id BIGINT, last_value DOUBLE)")
        }
      } finally conn.close()
    } else {
      // fail the precondition loudly: create=true silently makes an
      // EMPTY database, and the first micro-batch would then die with
      // an opaque missing-table SQLException inside foreachBatch
      require(graft.sinks.PgCopySink.tableColumns(url, "ups_t").nonEmpty,
        s"streamUpsert(reset=false) requires an existing ups_t table in $dbName")
    }
    val cols = Seq("user_id", "last_ts", "last_event_id", "last_value")
    val q = eventStream(s, d, maxFilesPerTrigger)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        val latest = batch
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("ts").as("last_ts"),
            col("event_id").as("last_event_id"),
            col("value").as("last_value"))
        graft.sinks.JdbcUpsert.upsertBatch(
          latest, url, "ups_t", "ups_stage", "user_id", cols,
          orderCols = Seq("last_ts", "last_event_id"))
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // Derby reports identifiers uppercase; restore the contract names
    // (the event_id tie-break column is internal — not part of the
    // consumer-facing latest-state surface)
    s.read.format("jdbc").option("url", url).option("dbtable", "ups_t").load()
      .toDF("user_id", "last_ts", "last_event_id", "last_value")
      .select("user_id", "last_ts", "last_value")
      .orderBy(col("user_id"))
  }

  val streamUpsertSql: String =
    """SELECT user_id, ts AS last_ts, "value" AS last_value
      |FROM (
      |  SELECT user_id, ts, "value",
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** Continuous top-k leaderboard: complete-mode aggregation ranked per
    * trigger — the "most active users right now" surface. State is one
    * row per user (bounded by key cardinality); the rank/limit runs on
    * the aggregated state, never the raw stream. k ties broken by
    * user_id for a deterministic, oracle-comparable result. */
  /** Shared by the query's default and its oracle LIMIT so they can't
    * drift (the Curation.MinChars pattern). */
  private val TopKDefault = 10

  def streamTopK(s: SparkSession, d: String, k: Int = TopKDefault): DataFrame = {
    val agg = eventStream(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").as("total_value"))
    runToMemory(s, agg, "graft_topk", "complete")
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(k)
  }

  val streamTopKSql: String =
    s"""SELECT user_id, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
       |FROM events
       |GROUP BY user_id
       |ORDER BY n_events DESC, user_id
       |LIMIT $TopKDefault""".stripMargin

  /** Stream-static enrichment: the event stream joined to the customer
    * dimension (a static DataFrame, broadcast to every micro-batch —
    * no state, no shuffle of the stream side) and aggregated per
    * (segment, event_type). The canonical "enrich the firehose with a
    * dimension" shape: at 100 TB the stream side never shuffles for
    * the join; only the aggregation exchanges partial rows. */
  def streamEnrich(s: SparkSession, d: String): DataFrame = {
    val dim = graft.Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventStream(s, d)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").as("total_value"))
    runToMemory(s, agg, "graft_enrich", "complete")
      .select(col("c_mktsegment"), col("event_type"), col("n"), col("total_value"))
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  val streamEnrichSql: String =
    """SELECT c_mktsegment, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2
      |ORDER BY c_mktsegment, event_type""".stripMargin

  /** Batch-equivalent sessionization (classic gap-and-island SQL): the
    * streaming state machine must converge to exactly these sessions. */
  val sessionizeSql: String =
    """SELECT user_id, MIN(ts) AS start, MAX(ts) AS "end",
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM (
      |  SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |      CASE WHEN LAG(ts) OVER w IS NULL
      |             OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
      |           THEN 1 ELSE 0 END AS new_s
      |    FROM events
      |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)))
      |GROUP BY user_id, sess
      |ORDER BY user_id, start""".stripMargin
}
