package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main (driver-run per round): times every SparkEntry query
  * on `SPARK_GRAFT_SF_DIR`.
  *
  * Each query is forced through a full materialization of every output
  * column (noop datasource sink) — a bare `count()` would let Catalyst
  * prune the computed columns and time a different, cheaper plan.
  *
  * Output contract (r5): the driver captures only a ~2000-char tail of
  * stdout, and the one-line JSON for 100+ cold + warm queries no longer
  * fits (BENCH_r03 and r04 both recorded `parsed: null`). So the FULL
  * per-query JSON goes to `bench_out.json` in the cwd, and stdout gets a
  * compact headline line (total, warm_total, worst-5, canary, CPU time)
  * guaranteed to survive the tail capture.
  *
  * Contention detection is SELF-CORRECTING (r7): any query whose cold
  * and warm runs disagree >1.5x in either direction is re-run once at
  * the end of the sweep (`retry_queries`), and `best_of_total` (per-
  * query min over cold/warm/retry) gives the gate a steady-state
  * headline even when a transient host window inflated one pass.
  * Every query records process-CPU seconds
  * (all JVM threads) alongside wall time. On an idle local[32] host the
  * hot queries run many CPU-seconds per wall-second; when the *host* is
  * oversubscribed (the r4 driver run inflated text_repetition 55x) the
  * JVM is descheduled and cpu/wall collapses toward — or below — 1. The
  * headline also re-runs a fixed-plan canary (q1_agg) at the END of the
  * session: canary_end >> canary_cold means the machine, not the code,
  * got slower while the bench ran.
  */
object Bench {
  /** Dense-compute canary (late r10): the q1_agg canary is scan +
    * light aggregation and is largely BLIND to CPU-frequency/steal
    * throttle — the late-r10 windows ran the kmeans family at ~2×
    * CPU-seconds while q1 read clean, and a worktree bisect proved
    * the code unchanged (BASELINE.md). This fixed pure-FLOP kernel
    * (transcendental math over a deterministic range, the Lloyd
    * inner loop's shape) exposes it: for FIXED work, higher `cpu`
    * across snapshots means the cores got slower (frequency), and
    * `wall ≫ cpu/32` means they are stolen. First committed
    * reference: 1.3-1.5 CPU-s on the 2026-08-16 host (the one the
    * bisect showed running kmeans at ~2× the r10b window's CPU — so a
    * future ~0.7 s reading would CONFIRM that machine class was
    * faster). Recorded cold and at session end beside the q1 canary,
    * min-of-3 each. */
  private def denseCanary(spark: SparkSession,
      cpuSec: () => Double): (Double, Double) = {
    def once(): (Double, Double) = {
      val t0 = System.nanoTime(); val c0 = cpuSec()
      spark.range(0, 20000000L, 1, 32).selectExpr(
        "sum(sqrt(cast(id % 9973 as double) * 1.0001 + " +
          "sin(cast(id as double) / 1e6)))")
        .collect(): Unit
      ((System.nanoTime() - t0) / 1e9, cpuSec() - c0)
    }
    // min-of-3 on CPU: the kernel's own C2 compilation would otherwise
    // read as throttle on the first measured run
    (1 to 3).map(_ => once()).minBy(_._2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // fail loudly and FIRST on testdata schema drift (see Preflight)
    Preflight.assertClean(spark, sfDir)
    // Process-CPU clock: sums every JVM thread, which in local mode IS
    // the whole engine (driver + executor threads share the process).
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
    def cpuSec: Double = osBean.map(_.getProcessCpuTime / 1e9).getOrElse(-1.0)
    // Cumulative stop-the-world GC seconds across all collectors: the
    // per-run delta separates "this query's plan recomputes work" from
    // "the session's accumulated garbage taxes this query" — the r6
    // warm-tail WARNs (text_* 5-13x) reproduce only late in a
    // 129-query session, never isolated, and only on allocation-heavy
    // queries, which is the GC signature.
    import scala.jdk.CollectionConverters._
    def gcSec: Double = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
    // Warm the JVM / codegen / filesystem once so the first timed query
    // isn't charged for session setup.
    spark.read.parquet(s"$sfDir/region.parquet").count()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    denseCanary(spark, cpuSec _) // unmeasured warmup of the dense kernel
    val denseCold = denseCanary(spark, cpuSec _)
    // Dev knobs: SPARK_GRAFT_ONLY=q1_agg,q3_join_agg to time a subset,
    // SPARK_GRAFT_REPEAT=3 to repeat each (min time reported).
    val only = SparkEntry.parseOnly()
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    // PAIRED mode (r11 verdict item 6): run each query's DuckDB oracle
    // immediately after its graft cold run, through ONE persistent
    // runner process, so every engine-vs-engine ratio is same-window
    // by construction — the r10/r11 0.75-1.11x headline spread was
    // host-throttle drift between two SEPARATE measurement passes.
    // Opt-in (SPARK_GRAFT_PAIRED=1): it adds the full DuckDB total to
    // the session; degrades to unpaired with a warning when python3/
    // duckdb/tools are absent (the shipped library never depends on
    // them).
    val pairedRunner: Option[(java.lang.Process, java.io.BufferedWriter, java.io.BufferedReader)] =
      if (!sys.env.get("SPARK_GRAFT_PAIRED").contains("1")) None
      else try {
        val p = new java.lang.ProcessBuilder(
          "python3", "tools/duckdb_server.py", sfDir).start()
        val w = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(p.getOutputStream, "UTF-8"))
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
        val ready = r.readLine()
        if (ready == null || !ready.contains("ready")) {
          p.destroy()
          System.err.println("[bench] paired runner failed to start; running unpaired")
          None
        } else Some((p, w, r))
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] paired runner unavailable (${e.getMessage}); running unpaired")
          None
      }
    val duckTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var runnerDead = false
    def duckRun(name: String): Unit = pairedRunner.foreach { case (_, w, r) =>
      SparkEntry.oracleSql.get(name).foreach { sql =>
        // a dead runner (duckdb OOM, python crash) must degrade THIS
        // run to unpaired, never abort the whole measurement session
        if (!runnerDead) duckTimes(name) =
          try {
            val b64 = java.util.Base64.getEncoder.encodeToString(sql.getBytes("UTF-8"))
            w.write(s"""{"name":"$name","sql_b64":"$b64"}""" + "\n")
            w.flush()
            val resp = r.readLine()
            if (resp == null) { runnerDead = true; -1.0 }
            else {
              // verify the echoed name matches the request: lockstep
              // alone is not enough — one stray line on the child's
              // stdout would silently mis-pair every later query
              val echoed = "\"name\":\\s*\"([^\"]*)\"".r
                .findFirstMatchIn(resp).map(_.group(1))
              if (!echoed.contains(name)) {
                System.err.println(
                  s"[bench] paired runner desynced at $name (echoed ${echoed.getOrElse("<none>")}); unpairing")
                runnerDead = true
                -1.0
              } else "\"sec\":\\s*([0-9.eE+-]+)".r.findFirstMatchIn(resp)
                .map(_.group(1).toDouble)
                .getOrElse {
                  System.err.println(s"[bench] duck $name: $resp"); -1.0
                }
            }
          } catch {
            case e: java.io.IOException =>
              System.err.println(s"[bench] paired runner died at $name: ${e.getMessage}")
              runnerDead = true
              -1.0
          }
      }
    }
    // Warm re-runs for the expensive tail: every query whose cold run
    // took >= this many seconds gets a second, warm-plan run, so
    // cold-codegen variance can't mask (or fake) a regression there.
    // 0 disables; the cold number remains the headline `value`.
    val warmFloor = sys.env.getOrElse("SPARK_GRAFT_WARM_FLOOR", "1.0").toDouble
    // Session-relative start offset per timed run (cold + warm), dumped
    // to bench_out.json: a host-contention window (the r4/r5 driver
    // anomalies) inflates every query whose [t0, t0+wall] overlaps it,
    // so WARNs can be correlated with WHEN they ran, not just how long.
    val sessionT0 = System.nanoTime()
    val startedAt = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Session plan cache: the cold run's analyzed/optimized frame is
    // retained and re-EXECUTED by warm/repeat runs, the way a real
    // session re-runs a prepared statement — construction + analysis
    // is paid once, not per run (q54_transitions 717 → 485 ms with a
    // reused frame, floor_profile_r13.json). Scope is deliberately
    // narrow and name-based: the PURE families only (q*/sql_* — frames
    // whose entire computation is in the plan), so a side-effecting
    // query (store builds, sink writes) can never serve a warm run
    // that silently skips its work; and only checkpoint-FREE frames
    // cache — a plan referencing localCheckpoint blocks cannot
    // re-execute after the sweep releases them (truncated lineage).
    // Detected per run, not assumed.
    def cacheable(name: String): Boolean =
      name.matches("q\\d+.*") || name.startsWith("sql_")
    val planCache = scala.collection.mutable.HashMap.empty[String, org.apache.spark.sql.DataFrame]
    /** One timed run → (wall s, process-cpu s, gc-pause s); failure → (-1,-1,-1). */
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double, Double) = {
      val c0 = cpuSec
      val g0 = gcSec
      val t0 = System.nanoTime()
      // last start wins: for repeat/warm re-runs the retained timing is
      // minBy/last, and the offset only needs to be roughly aligned
      startedAt(name) = (t0 - sessionT0) / 1e9
      try {
        // sweeping: release whatever the query pinned (localCheckpoint
        // blocks survive the session otherwise and 100+ queries of
        // accumulation would compete with execution memory)
        Checkpoints.sweeping(spark) {
          val sc = spark.sparkContext
          val before = sc.getPersistentRDDs.keySet
          val df = planCache.getOrElse(name, fn(spark, sfDir))
          df.write.format("noop").mode("overwrite").save()
          if (cacheable(name) && !planCache.contains(name) &&
              (sc.getPersistentRDDs.keySet -- before).isEmpty)
            planCache(name) = df
        }
        ((System.nanoTime() - t0) / 1e9,
          if (c0 < 0) -1.0 else cpuSec - c0, gcSec - g0)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          planCache.remove(name)
          (-1.0, -1.0, -1.0) // a fast failure must not report as a fast run
      }
    }
    val results: Seq[(String, (Double, Double, Double))] = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
      .map { case (name, fn) =>
        val times = (1 to repeat).map(_ => run(name, fn))
        duckRun(name) // paired mode: same-window DuckDB run, else no-op
        name -> (if (times.exists(_._1 < 0)) (-1.0, -1.0, -1.0) else times.minBy(_._1))
      }
    val coldStarts = startedAt.toMap // snapshot before warm runs overwrite
    // warm failures stay in the map as -1 (same contract as cold: a
    // fast failure must not read as a fast run — or vanish entirely)
    val warm = results
      .filter { case (_, (cold, _, _)) => warmFloor > 0 && cold >= warmFloor }
      .map { case (name, _) => name -> run(name, SparkEntry.queries(name)) }
    // warm ≫ cold is the recompute signature (cold includes codegen +
    // first-touch IO, so a warm plan should be faster): flag it loudly —
    // this is exactly how the corpus_mix O(words²) regression surfaced.
    // Threshold 1.5×, not lower: warm is a SINGLE run compared against a
    // min-of-repeat cold, and measured idle-host run-to-run variance on
    // the heavy queries is ±25% (isolated A/B, r5) — a tighter bound
    // flags ordinary jitter as recompute. Real recompute bugs are ≫2×
    // (corpus_mix was >10×), so 1.5 loses none of the signal.
    val coldByName = results.toMap
    warm.foreach { case (name, (w, _, wgc)) =>
      val (cold, _, cgc) = coldByName(name)
      if (w > cold * 1.5)
        System.err.println(f"[bench] WARN $name warm ${w}%.2fs (gc ${wgc}%.2fs) > 1.5x cold " +
          f"${cold}%.2fs (gc ${cgc}%.2fs) — recompute if gc is flat, heap pressure if gc eats the gap")
    }
    // snapshot BEFORE the retry/canary runs below overwrite offsets —
    // warm_queries_t0 must report when the WARM run started, or the
    // contention-window correlation the field exists for breaks
    val warmStarts = startedAt.toMap
    // Self-correcting contention pass: a host-contention window (the
    // r4-r6 driver anomalies) inflates whichever of cold/warm overlaps
    // it, so when the two disagree >1.5x in EITHER direction the query
    // gets ONE more isolated run here — after the full sweep, when the
    // transient window has most likely passed. The gate reads
    // best_of_total (min over cold/warm/retry per query), which then
    // converges to steady-state even on a contended driver host.
    val retry = results
      .filter { case (name, (cold, _, _)) =>
        val w = warm.collectFirst { case (n, (t, _, _)) if n == name => t }
          .getOrElse(-1.0)
        cold >= 0 && w >= 0 && (w > cold * 1.5 || cold > w * 1.5)
      }
      .map { case (name, _) => name -> run(name, SparkEntry.queries(name)) }
    retry.foreach { case (name, (t, _, _)) =>
      val (cold, _, _) = coldByName(name)
      System.err.println(f"[bench] retry $name ${t}%.2fs (cold ${cold}%.2fs)")
    }
    val retryStarts = startedAt.toMap
    // End-of-session canary: same fixed plan as the cold q1_agg at the
    // top of the run. If this is multiples of the cold number, the HOST
    // degraded over the session (r4: 55x wall inflation under driver
    // contention) — the per-query numbers above are then suspect.
    val canaryName = "q1_agg"
    val canaryEnd =
      if (only.forall(_.contains(canaryName)) && SparkEntry.queries.contains(canaryName))
        run(canaryName, SparkEntry.queries(canaryName))._1
      else -1.0
    val canaryCold = coldByName.get(canaryName).map(_._1).getOrElse(-1.0)
    val denseEnd = denseCanary(spark, cpuSec _)
    val gcTotal = gcSec

    def num(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    def objOf(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    // failed queries report -1 in `queries` and are excluded from totals
    val ok = results.filter(_._2._1 >= 0)
    val total = ok.map(_._2._1).sum
    val cpuTotal = if (ok.exists(_._2._2 < 0)) -1.0 else ok.map(_._2._2).sum
    val warmTotal = warm.map(_._2._1).filter(_ >= 0).sum
    // per-query min over cold/warm/retry — the steady-state headline a
    // contended host converges to (failed runs excluded per contract)
    val warmByName = warm.toMap
    val retryByName = retry.toMap
    val bestOfTotal = ok.map { case (name, (cold, _, _)) =>
      (Seq(cold) ++ warmByName.get(name).map(_._1) ++
        retryByName.get(name).map(_._1)).filter(_ >= 0).min
    }.sum
    val failedNames = results.filter(_._2._1 < 0).map(_._1)
    val worst5 = ok.sortBy(-_._2._1).take(5).map { case (n, (w, _, _)) => n -> w }
    // Paired aggregates over the INTERSECTION of valid runs: a query
    // appears in both sums or neither (a failed graft run with a
    // successful oracle would otherwise bias the ratio low, and vice
    // versa). cold_ratio pairs the two runs that shared a window;
    // best_ratio is the steady-state headline (min of cold/warm/retry).
    val duckOk = duckTimes.filter(_._2 >= 0).toMap
    def bestOfName(name: String, cold: Double): Double =
      (Seq(cold) ++ warmByName.get(name).map(_._1) ++
        retryByName.get(name).map(_._1)).filter(_ >= 0).min
    val pairedSet = ok.filter(q => duckOk.contains(q._1))
    val duckTotal = pairedSet.map(q => duckOk(q._1)).sum
    val pairedColdRatio =
      if (duckTotal > 0) pairedSet.map(_._2._1).sum / duckTotal else -1.0
    val pairedBestRatio =
      if (duckTotal > 0)
        pairedSet.map { case (n, (c, _, _)) => bestOfName(n, c) }.sum / duckTotal
      else -1.0
    pairedRunner.foreach { case (p, w, _) =>
      try { w.close() } catch { case _: Exception => () }
      p.destroy()
    }
    // Canary-normalized headline (r9, verdict item 5): absolute driver
    // seconds across rounds are NOT comparable — host speed drifts by
    // session (BENCH_r08: canary 1.85 s vs the same code's 0.92 s in a
    // clean window, 38 retries). The canary is a fixed plan on fixed
    // data, so total × (anchor / canary_cold) rescales this session's
    // wall clock to the committed r8 reference window (canary 0.92 s),
    // letting a contended driver run self-adjudicate in its own
    // headline instead of relying on a cross-file snapshot compare.
    val CanaryAnchor = 0.92
    def canaryNorm(t: Double): Double =
      if (canaryCold > 0 && t >= 0) t * CanaryAnchor / canaryCold else -1.0
    val totalNorm = canaryNorm(total)
    val bestOfNorm = canaryNorm(bestOfTotal)

    // Full detail → file (survives regardless of stdout truncation).
    val fullJson =
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
      s""""cpu_total":${num(cpuTotal)},"warm_total":${num(warmTotal)},""" +
      s""""canary_cold":${num(canaryCold)},"canary_end":${num(canaryEnd)},""" +
      s""""dense_cold_wall":${num(denseCold._1)},"dense_cold_cpu":${num(denseCold._2)},""" +
      s""""dense_end_wall":${num(denseEnd._1)},"dense_end_cpu":${num(denseEnd._2)},""" +
      s""""gc_total":${num(gcTotal)},""" +
      s""""n_queries":${results.size},"failed":${failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""queries":${objOf(results.map { case (n, (w, _, _)) => n -> w })},""" +
      s""""queries_cpu":${objOf(results.map { case (n, (_, c, _)) => n -> c })},""" +
      s""""queries_gc":${objOf(results.map { case (n, (_, _, g)) => n -> g })},""" +
      s""""warm_queries":${objOf(warm.map { case (n, (w, _, _)) => n -> w })},""" +
      s""""warm_queries_gc":${objOf(warm.map { case (n, (_, _, g)) => n -> g })},""" +
      s""""retry_queries":${objOf(retry.map { case (n, (w, _, _)) => n -> w })},""" +
      s""""retry_queries_gc":${objOf(retry.map { case (n, (_, _, g)) => n -> g })},""" +
      s""""best_of_total":${num(bestOfTotal)},""" +
      s""""total_canary_norm":${num(totalNorm)},""" +
      s""""best_of_canary_norm":${num(bestOfNorm)},""" +
      s""""queries_t0":${objOf(results.map { case (n, _) => n -> coldStarts.getOrElse(n, -1.0) })},""" +
      s""""warm_queries_t0":${objOf(warm.map { case (n, _) => n -> warmStarts.getOrElse(n, -1.0) })},""" +
      s""""retry_queries_t0":${objOf(retry.map { case (n, _) => n -> retryStarts.getOrElse(n, -1.0) })},""" +
      s""""duck_queries":${objOf(duckTimes.toSeq)},""" +
      s""""duck_total":${num(duckTotal)},""" +
      s""""paired_cold_ratio":${num(pairedColdRatio)},""" +
      s""""paired_best_ratio":${num(pairedBestRatio)},""" +
      s""""sf":"$sfDir"}"""
    val outFile = Paths.get("bench_out.json").toAbsolutePath
    Files.writeString(outFile, fullJson + "\n")
    // Compact headline — worst-5 stands in for the full `queries` map so
    // the line stays well under the driver's 2000-char tail capture.
    println(
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
      s""""queries":${objOf(worst5)},"warm_total":${num(warmTotal)},""" +
      s""""best_of_total":${num(bestOfTotal)},""" +
      s""""total_canary_norm":${num(totalNorm)},""" +
      s""""best_of_canary_norm":${num(bestOfNorm)},""" +
      s""""cpu_total":${num(cpuTotal)},"canary_cold":${num(canaryCold)},""" +
      s""""canary_end":${num(canaryEnd)},"n_queries":${results.size},""" +
      s""""n_failed":${failedNames.size},"n_retried":${retry.size},""" +
      (if (pairedRunner.isDefined)
        s""""duck_total":${num(duckTotal)},""" +
          s""""paired_cold_ratio":${num(pairedColdRatio)},""" +
          s""""paired_best_ratio":${num(pairedBestRatio)},"""
      else "") +
      s""""full":"$outFile","sf":"$sfDir"}""")
    spark.stop()
  }
}
