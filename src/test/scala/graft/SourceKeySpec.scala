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
  * so every memo misses instead of serving stale state. Also the
  * lifecycle of the persisted artifact dirs named by the key: one dir
  * per (kind, source), orphans and record-less dirs pruned once 3 h
  * old, variants kept with their digest. */
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

  private val hours4 = 4L * 3600 * 1000

  /** A temp corpus holding copies of sf's `tables`. */
  private def corpus(tables: String*): String = {
    val d = tmpDir()
    tables.foreach(t => Files.copy(new File(s"$sf/$t.parquet").toPath, d.resolve(s"$t.parquet")))
    d.toString
  }

  private def backdate(dir: String, byMs: Long): Unit =
    assert(new File(dir).setLastModified(System.currentTimeMillis() - byMs))

  test("regenerating a source three times leaves one artifact dir per kind") {
    val d = corpus("embeddings", "documents")
    def kinds: Seq[(String, String)] = Seq(
      "embeddings" -> operators.AnnIndex.build(spark, d),
      "documents" -> operators.MinhashIndex.ensure(spark, d),
      "embeddings" -> operators.Similarity.ampEmbeddings(spark, d, 2))
    for (round <- 1 to 3) {
      for (t <- Seq("embeddings", "documents")) {
        val f = new File(d, s"$t.parquet")
        assert(f.setLastModified(f.lastModified + 60000)) // a regeneration
      }
      for ((table, dir) <- kinds) {
        val same = new File(dir).getParentFile.listFiles
          .filter(x => x.isDirectory && SourceKey.recordsSource(x, d, table))
        assert(same.map(_.getPath).toSeq == Seq(dir),
          s"round $round: one dir per (kind, source), found ${same.mkString(", ")}")
      }
    }
  }

  test("an orphaned artifact dir untouched for 3 h is pruned by the next build") {
    val gone = corpus("embeddings")
    val orphan = operators.Similarity.ampEmbeddings(spark, gone, 2)
    FileUtils.deleteDirectory(new File(gone))
    backdate(orphan, hours4)
    operators.Similarity.ampEmbeddings(spark, corpus("embeddings"), 2)
    assert(!new File(orphan).exists, "an orphan older than 3 h must be pruned")
  }

  test("an orphaned artifact dir touched a minute ago survives the prune") {
    val gone = corpus("embeddings")
    val orphan = operators.Similarity.ampEmbeddings(spark, gone, 2)
    FileUtils.deleteDirectory(new File(gone))
    backdate(orphan, 60000)
    val old = corpus("embeddings")
    val aged = operators.Similarity.ampEmbeddings(spark, old, 2)
    FileUtils.deleteDirectory(new File(old))
    backdate(aged, hours4)
    operators.Similarity.ampEmbeddings(spark, corpus("embeddings"), 2)
    assert(new File(orphan).isDirectory, "an orphan touched within 3 h may be live")
    assert(!new File(aged).exists, "the same prune removes the orphan older than 3 h")
    FileUtils.deleteQuietly(new File(orphan))
  }

  test("an artifact dir with no source record is pruned once untouched for 3 h") {
    val amp = new File(SourceKey.artifactDir("graft_amp", sf, "embeddings", "x2")).getParentFile
    val planted = new File(amp, "00000000deadbeef")
    assert(new File(planted, "embeddings.parquet").mkdirs())
    backdate(planted.getPath, hours4)
    operators.Similarity.ampEmbeddings(spark, corpus("embeddings"), 2)
    assert(!planted.exists, "a record-less dir older than 3 h must be pruned")
  }

  test("a variant of the current digest survives a same-digest rebuild; an orphan's goes with it") {
    val d = corpus("embeddings")
    val gone = corpus("embeddings")
    val orphan = operators.AnnIndex.build(spark, gone)
    val orphanForget = operators.AnnIndex.variant(spark, gone, "forget")
    FileUtils.deleteDirectory(new File(gone))
    Seq(orphan, orphanForget).foreach(backdate(_, hours4))
    operators.AnnIndex.build(spark, d)
    val forget = operators.AnnIndex.variant(spark, d, "forget")
    assert(operators.AnnIndex.build(spark, d) + "_forget" == forget)
    assert(new File(forget, "_GRAFT_INDEX_OK").isFile,
      "a variant of the current digest must survive its rebuild")
    assert(!new File(orphan).exists && !new File(orphanForget).exists,
      "an orphan older than 3 h is pruned with its variants")
  }
}
