package graft

import java.io.File
import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.apache.spark.graft.JobProbe
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[SourceKey]] and the process-lifetime memos keyed by it: the
  * base-table footer memo behind [[Tables.t]] and
  * [[Tables.footerRowCount]], and the PQ codebook's subvector-length
  * memo (`AnnIndex.subLenAt`). A regenerated source must move the key,
  * so every memo misses instead of serving stale state. */
class SourceKeySpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmpDir(): Path = tempDir("graft_srckey")

  /** The key's definition, written out independently: a fold over
    * (relative path, length, mtime) of every file, sorted by path. */
  private def referenceKey(root: File): Long = {
    val rootPath = root.toPath
    val files = Files.walk(rootPath).iterator.asScala
      .filter(Files.isRegularFile(_)).toSeq
      .map(p => (rootPath.relativize(p).toString, p.toFile))
      .sortBy(_._1)
    files.foldLeft(17L) { case (h, (rel, f)) =>
      ((h * 1000003L + rel.hashCode) * 1000003L + f.length) * 1000003L + f.lastModified
    } & Long.MaxValue
  }

  test("of(d, table) equals the root overload and the key's definition") {
    val d = tmpDir()
    spark.range(0, 40).selectExpr("id", "id % 3 AS p").write.partitionBy("p")
      .parquet(d.resolve("flat.parquet").toString)
    spark.range(0, 5).write.parquet(d.resolve("plain.parquet").toString)
    for (t <- Seq("flat", "plain")) {
      val root = new File(d.toFile, s"$t.parquet")
      assert(SourceKey.of(d.toString, t) == SourceKey.of(root))
      assert(SourceKey.of(root) == referenceKey(root))
      assert(SourceKey.of(root) >= 0)
    }
  }

  test("regenerating a table in place misses the frame and footer-count memos") {
    val d = tmpDir().toString
    val path = s"$d/regen.parquet"
    spark.range(0, 10).write.parquet(path)
    Tables.t(spark, d, "regen")
    val first = Tables.openedAt(d)("regen")
    Tables.t(spark, d, "regen")
    assert(Tables.openedAt(d)("regen") eq first, "unchanged source must hit the memo")
    assert(Tables.footerRowCount(spark, d, "regen") == 10L)

    spark.range(0, 25).write.mode("overwrite").parquet(path)
    val second = Tables.t(spark, d, "regen")
    assert(!(Tables.openedAt(d)("regen") eq first), "a regenerated source must miss the memo")
    assert(second.count() == 25L)
    assert(Tables.footerRowCount(spark, d, "regen") == 25L)
  }

  test("moving a part file between subdirectories changes the key") {
    // the plain key, and the index dir names derived from it
    val keys = Seq[(String, String => Any)](
      "moved" -> (d => SourceKey.of(d, "moved")),
      "embeddings" -> (d => operators.AnnIndex.fingerprint(d)),
      "documents" -> (d => operators.MinhashIndex.fingerprint(d, 64, 4)))
    for ((table, key) <- keys) {
      val d = tmpDir()
      val root = d.resolve(s"$table.parquet")
      val a = Files.createDirectories(root.resolve("p=a"))
      val b = Files.createDirectories(root.resolve("p=b"))
      Files.write(a.resolve("part-0.parquet"), Array.fill[Byte](64)(1))
      Files.write(b.resolve("part-1.parquet"), Array.fill[Byte](32)(2))
      val before = key(d.toString)
      assert(key(d.toString) == before, s"$table: an unchanged tree must keep its key")
      // a rename keeps the file's length and mtime: only its path moves
      Files.move(a.resolve("part-0.parquet"), b.resolve("part-0.parquet"))
      assert(key(d.toString) != before, s"$table: a moved part file must move the key")
    }
  }

  test("the versioned stream store is SourceKey's scratch dir, and it sweeps dead stores") {
    val d = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    val tmp = new File(sys.props("java.io.tmpdir"))
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    val planted = new File(tmp, s"graft_vsink_${d.replaceAll("[^a-zA-Z0-9]", "_")}_0_p${child.pid}")
    assert(planted.mkdir())
    assert(planted.setLastModified(System.currentTimeMillis() - 4L * 3600 * 1000))
    def store = new File(SourceKey.scratchDir("vsink", d, "events")) // sweeps too
    try {
      val audit = streaming.Streams.versionedSink(spark, d).collect()(0)
      assert(!planted.exists, "a dead owner's store older than 3 h must be swept")
      assert(audit.getLong(0) == Tables.footerRowCount(spark, d, "events"))
      assert(new File(store, "manifests").list.nonEmpty,
        s"the default store must be $store")
    } finally {
      FileUtils.deleteQuietly(planted)
      FileUtils.deleteQuietly(store)
    }
  }

  test("rebuilding a codebook in the same dir misses the subLenAt memo") {
    val dir = tmpDir().toString
    def writeCodebook(subLen: Int): Unit =
      spark.range(0, 8).selectExpr("CAST(id % 2 AS INT) AS sub", "CAST(id AS INT) AS code",
        s"array_repeat(CAST(id AS FLOAT), $subLen) AS c_sv")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")
    writeCodebook(4)
    assert(operators.AnnIndex.subLenAt(spark, dir) == 4)
    val (again, jobs) = JobProbe(spark.sparkContext)(operators.AnnIndex.subLenAt(spark, dir))
    assert(again == 4 && jobs.count == 0, "an unchanged codebook must be served from the memo")

    writeCodebook(8)
    assert(operators.AnnIndex.subLenAt(spark, dir) == 8)
  }
}
