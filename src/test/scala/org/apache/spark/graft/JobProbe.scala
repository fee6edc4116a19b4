package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block launches, for sink specs. Jobs reach
  * the status tracker through the asynchronous listener bus, so the
  * bus is drained (a `private[spark]` call, hence this package) before
  * the tracker is read: no sleeps. */
object JobProbe {

  final case class Jobs(count: Int, touchedPersisted: Boolean)

  /** Runs `f` under a fresh job group and reports how many jobs it
    * launched and whether any of their stages used a persisted RDD
    * (the storage level is captured when the job is submitted, so a
    * persist that `f` undoes before returning is still seen). */
  def apply[A](sc: SparkContext)(f: => A): (A, Jobs) = {
    val group = s"job-probe-${java.util.UUID.randomUUID()}"
    val persisted = new AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group &&
            e.stageInfos.exists(_.rddInfos.exists(_.storageLevel.isValid)))
          persisted.set(true)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job probe")
    val out = try f finally sc.clearJobGroup()
    sc.listenerBus.waitUntilEmpty()
    sc.removeSparkListener(listener)
    (out, Jobs(sc.statusTracker.getJobIdsForGroup(group).length, persisted.get))
  }
}
