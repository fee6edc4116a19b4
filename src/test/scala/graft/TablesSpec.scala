package graft

import java.lang.ref.WeakReference
import org.apache.spark.graft.JobProbe
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables]] opens each table once for Preflight, `registerViews` and
  * every query: a plain-file table with one driver-side footer read and
  * no Spark job, with the same plan as `spark.read.parquet`, through a
  * memo that neither pins a session nor keeps superseded entries. */
class TablesSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString

  test("Preflight.assertClean and registerViews open every table without a Spark job") {
    val s = spark.newSession()
    val (_, jobs) = JobProbe(s.sparkContext) {
      Preflight.assertClean(s, sf01)
      Tables.registerViews(s, sf01)
    }
    assert(jobs.count == 0)
  }

  test("each table's frame plans exactly as spark.read.parquet's") {
    def plan(df: DataFrame): String =
      df.queryExecution.executedPlan.toString.replaceAll("#\\d+", "#")
    for (n <- Tables.All) {
      val got = Tables.t(spark, sf01, n)
      val want = spark.read.parquet(s"$sf01/$n.parquet")
      assert(got.schema == want.schema, n)
      assert(plan(got) == plan(want), n)
    }
  }

  /** A child session that opened every table, then went out of scope:
    * a separate frame, so no dead local keeps it alive. It executes
    * nothing: Spark's own threads started during an execution inherit
    * the executing session as their active one. */
  private def openedInDroppedSession(): WeakReference[SparkSession] = {
    val s = spark.newSession()
    Tables.All.foreach(n => assert(Tables.t(s, sf, n).schema.nonEmpty))
    assert(Tables.footerRowCount(s, sf, "orders") > 0)
    new WeakReference(s)
  }

  test("the memo pins no session: a dropped session is collected") {
    val ref = openedInDroppedSession()
    var tries = 0
    while (ref.get != null && tries < 50) {
      System.gc()
      Thread.sleep(20)
      tries += 1
    }
    assert(ref.get == null, "the session is still reachable after 50 collections")
  }

  test("regenerating a table five times leaves one memo entry with the latest footer") {
    val d = tempDir("graft_tables_regen").toString
    for (i <- 1 to 5) {
      spark.range(0, 10L * i).write.mode("overwrite").parquet(s"$d/regen.parquet")
      assert(Tables.t(spark, d, "regen").count() == 10L * i)
      // opening reads no row counts; the first footerRowCount does
      assert(Tables.openedAt(d)("regen").rows.isEmpty)
      assert(Tables.footerRowCount(spark, d, "regen") == 10L * i)
      assert(Tables.openedAt(d)("regen").rows.contains(10L * i))
    }
    assert(Tables.openedAt(d).keySet == Set("regen"))
  }
}
