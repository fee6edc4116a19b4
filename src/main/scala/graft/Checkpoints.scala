package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** localCheckpoint lifecycle management.
  *
  * A localCheckpoint pins its materialized partitions in executor
  * memory for the SESSION lifetime: Spark never frees them on its own,
  * and `Dataset.unpersist()` does not reach them (it evicts
  * query-cache entries, not checkpoint RDDs). Left alone, a 100+-query
  * bench session accumulates every query's pinned blocks and they
  * compete with execution memory at larger SFs. Policy:
  *
  *  - iterative loops ([[operators.GraphOps.pagerank]],
  *    [[operators.Dedup.connectedComponents]], PQ's Lloyd refinement)
  *    release each superseded checkpoint via [[tracked]] as soon as
  *    its successor is materialized, so construction-time footprint is
  *    ~2 rounds regardless of iteration count;
  *  - the harness mains (Verify / Bench) wrap every query action in
  *    [[sweeping]], releasing everything the query pinned once its
  *    action completes, so session footprint stays flat;
  *  - a RESULT-FEEDING checkpoint inside a single invocation is left
  *    to the harness sweep — releasing it before the caller's action
  *    runs would drop blocks that the checkpoint's truncated lineage
  *    can no longer recompute.
  */
object Checkpoints {

  /** Audit passthrough: with system property `graft.audit.noCheckpoint`
    * set, [[tracked]] and [[pin]] return the frame UNCHANGED, so
    * PlanAudit can follow scans through what is otherwise an opaque
    * LogicalRDD boundary (r7 verdict item 7: the "check" rows) and
    * report pushdown/pruning for the FULL pipeline. Plans may repeat
    * work in this mode (that is what the checkpoints exist to stop) —
    * it is an ANALYSIS mode, never set by the production mains. */
  private def passthrough: Boolean =
    java.lang.Boolean.getBoolean("graft.audit.noCheckpoint")

  /** An untracked pin for result-feeding frames (the harness sweep
    * frees them): localCheckpoint, or identity under the audit
    * passthrough. */
  def pin[T](ds: Dataset[T]): Dataset[T] =
    if (passthrough) ds else ds.localCheckpoint()

  /** Eagerly localCheckpoint `ds`, returning the pinned frame plus a
    * release handle covering exactly the RDD blocks this checkpoint
    * added. Call the handle only once a successor (or the final
    * consumer's action) has materialized. */
  def tracked[T](ds: Dataset[T]): (Dataset[T], () => Unit) =
    if (passthrough) (ds, () => ()) else trackedAlways(ds)

  /** [[tracked]] with NO audit passthrough — for iterative loops whose
    * per-round plan references its predecessor more than once (the
    * pointer-jump self-join in [[operators.GraphOps.components]]:
    * labels_prev appears 4× per round, so un-truncated lineage grows
    * 4^rounds and the driver OOMs ANALYZING the plan long before any
    * work runs — observed under PlanAudit at 16 rounds). The loop's
    * interior is repetitive by construction; auditing through one
    * window between checkpoints (the passthrough-able [[tracked]]
    * frames feeding the loop stay transparent) shows everything the
    * remaining rounds would. */
  def trackedAlways[T](ds: Dataset[T]): (Dataset[T], () => Unit) = {
    val sc = ds.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cp = ds.localCheckpoint()
    val added = sc.getPersistentRDDs.keySet -- before
    (cp, () => added.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false))))
  }

  /** Run `action` and release every RDD it left persisted — the
    * harness-side sweep. Per-query pins are safe to free because every
    * query invocation constructs (and pins) its own state; the ONE
    * exception is [[pinShared]]'s cross-query memo, whose RDD ids are
    * explicitly exempted below. */
  def sweeping[A](spark: SparkSession)(action: => A): A = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try action
    finally {
      val keep = new scala.collection.mutable.HashSet[Int]
      sharedIdsFor(sc).forEach(id => { keep.add(id); () })
      (sc.getPersistentRDDs.keySet -- before -- keep).foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    }
  }

  private val sharedPins =
    new java.util.concurrent.ConcurrentHashMap[String, Dataset[_]]()
  // shared-pin RDD ids are scoped PER SparkContext (keyed by
  // applicationId): RDD ids restart at 0 in a new context, so a flat
  // set would exempt unrelated RDDs from a later session's sweep —
  // silently re-creating the leak sweeping() exists to stop
  private val sharedRddIds = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.Set[Integer]]()
  private def sharedIdsFor(sc: org.apache.spark.SparkContext)
      : java.util.Set[Integer] =
    sharedRddIds.computeIfAbsent(sc.applicationId,
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]())

  /** A SESSION-LIFETIME pin shared ACROSS queries, exempt from the
    * harness sweep — for a frame two gated queries would otherwise each
    * rebuild from the same scan (r10: the word-5-gram stream consumed
    * by both dedup_phrases and text_boilerplate). Built once per `key`;
    * the key MUST embed the dataset dir plus a source-content
    * component (file lengths/mtimes) so a regeneration misses instead
    * of serving stale rows — the scratchDir discipline. Use only for
    * small frames (the pin never frees until session end); under the
    * audit passthrough it degrades to the raw plan like [[pin]]. */
  def pinShared(spark: SparkSession, key: String)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    if (passthrough) return build
    val cached = sharedPins.get(key)
    if (cached != null && (cached.sparkSession eq spark) &&
        !spark.sparkContext.isStopped)
      return cached.asInstanceOf[org.apache.spark.sql.DataFrame]
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cp = build.localCheckpoint()
    val ids = sharedIdsFor(sc)
    (sc.getPersistentRDDs.keySet -- before).foreach(id => {
      ids.add(id); ()
    })
    sharedPins.put(key, cp)
    cp
  }
}
