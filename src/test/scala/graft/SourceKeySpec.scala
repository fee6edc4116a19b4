package graft

import java.io.File
import java.nio.file.{Files, Path}
import org.apache.spark.graft.JobProbe
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[SourceKey]] and the process-lifetime memos keyed by it: the
  * base-table frame memo ([[Tables.t]]), the footer row-count memo
  * ([[Tables.footerRowCount]]) and the PQ codebook's subvector-length
  * memo (`AnnIndex.subLenAt`). A regenerated source must move the key,
  * so every memo misses instead of serving stale state. */
class SourceKeySpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmpDir(): Path = Files.createTempDirectory("graft_srckey")

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
    val first = Tables.t(spark, d, "regen")
    assert(Tables.t(spark, d, "regen") eq first, "unchanged source must hit the frame memo")
    assert(Tables.footerRowCount(spark, d, "regen") == 10L)

    spark.range(0, 25).write.mode("overwrite").parquet(path)
    val second = Tables.t(spark, d, "regen")
    assert(!(second eq first), "a regenerated source must miss the frame memo")
    assert(second.count() == 25L)
    assert(Tables.footerRowCount(spark, d, "regen") == 25L)
  }

  test("moving a part file between subdirectories changes the key") {
    val root = tmpDir().resolve("moved.parquet")
    val a = Files.createDirectories(root.resolve("p=a"))
    val b = Files.createDirectories(root.resolve("p=b"))
    Files.write(a.resolve("part-0.parquet"), Array.fill[Byte](64)(1))
    Files.write(b.resolve("part-1.parquet"), Array.fill[Byte](32)(2))
    val before = SourceKey.of(root.toFile)
    assert(SourceKey.of(root.toFile) == before, "an unchanged tree must keep its key")
    // a rename keeps the file's length and mtime: only its path moves
    Files.move(a.resolve("part-0.parquet"), b.resolve("part-0.parquet"))
    assert(SourceKey.of(root.toFile) != before)
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
