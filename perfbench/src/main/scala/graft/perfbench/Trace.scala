package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall-time spans around calls into the program's modules, keyed by
  * layer name (`sources.read`, `sinks.write`, ...). A disabled instance
  * only runs the body, so untraced passes pay nothing. */
final class Spans(val enabled: Boolean) {
  private val acc = mutable.LinkedHashMap.empty[String, Long]

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally acc(name) = acc.getOrElse(name, 0L) + (System.nanoTime() - t0)
    }

  /** Seconds per span name since the last call; resets the totals. */
  def take(): Map[String, Double] = {
    val out = acc.map { case (k, v) => k -> v / 1e9 }.toMap
    acc.clear()
    out
  }
}

/** Spark listener counters, read only after [[Counters.drained]] has
  * flushed the listener bus. */
final class Counters extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val taskCpuNs, taskRunMs, gcMs = new AtomicLong
  val inputBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes = new AtomicLong
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      taskRunMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Counter values after every event posted so far was delivered. */
  def drained(sc: SparkContext): Map[String, Double] = {
    org.apache.spark.perfbench.BusDrain(sc)
    Map(
      "spark.jobs" -> jobs.get.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.task_cpu_s" -> taskCpuNs.get / 1e9,
      "spark.task_run_s" -> taskRunMs.get / 1e3,
      "spark.gc_s" -> gcMs.get / 1e3,
      "spark.input_bytes" -> inputBytes.get.toDouble,
      "spark.shuffle_write_bytes" -> shuffleWriteBytes.get.toDouble,
      "spark.shuffle_read_bytes" -> shuffleReadBytes.get.toDouble,
      "spark.spill_bytes" -> spillBytes.get.toDouble)
  }

  /** Seconds of [fromMs, toMs] during which at least one job ran. */
  def busySeconds(fromMs: Long, toMs: Long): Double = synchronized {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }
      .toSeq.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy += curE - curS
    busy / 1e3
  }
}

/** Process-level readings: JVM CPU, peak RSS and a child process's
  * reaped-children CPU (the Postgres postmaster's backends). */
object ProcStats {
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def jvmCpuSeconds: Double = osBean.getProcessCpuTime / 1e9

  private def statusKb(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally src.close()
  }

  def peakRssMb: Double = statusKb("VmHWM") / 1024.0

  /** cutime + cstime of `pid` in seconds: CPU of its exited, reaped
    * children. Clock ticks are 100 per second on Linux. */
  def childrenCpuSeconds(pid: Long): Double = {
    val src = scala.io.Source.fromFile(s"/proc/$pid/stat")
    val stat = try src.mkString finally src.close()
    // fields after the parenthesised command name; cutime/cstime are
    // fields 16 and 17 of the whole line
    val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (rest(13).toLong + rest(14).toLong) / 100.0
  }
}
