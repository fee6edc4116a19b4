package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnIndex, Similarity}

/** Pins the persisted-index contract: serving from the stored
  * (coarse, codebook, codes) artifacts is BIT-IDENTICAL to the inline
  * training pipelines (which is what keeps the training-replay DuckDB
  * oracles valid for the served queries), and the fingerprint keying
  * makes stale serving impossible across testdata regenerations. */
class AnnIndexSpec extends AnyFunSuite {
  import SparkTestSession._

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toIndexedSeq.map(_.toSeq)

  test("served ann_pq is bit-identical to the inline training pipeline") {
    assert(rowsOf(AnnIndex.pqQuery(spark, sf)) == rowsOf(Similarity.pq(spark, sf)))
  }

  test("served ann_ivfpq is bit-identical to the inline pipeline") {
    assert(rowsOf(AnnIndex.ivfpqQuery(spark, sf)) ==
      rowsOf(Similarity.ivfpq(spark, sf)))
  }

  test("served rerank queries are bit-identical to the inline pipelines") {
    assert(rowsOf(AnnIndex.pqRerankQuery(spark, sf)) ==
      rowsOf(Similarity.pqRerank(spark, sf)))
    assert(rowsOf(AnnIndex.ivfpqRerankQuery(spark, sf)) ==
      rowsOf(Similarity.ivfpqRerank(spark, sf)))
  }

  /** The incremental-build contract behind `ann_index_append_build`:
    * a base build on ~90% of the corpus plus a frozen-artifact append
    * of the rest yields an index BIT-IDENTICAL to the full rebuild —
    * same coarse centroids and codebook (the appended slice is
    * training-disjoint by construction), same (vec_id → cell, codes)
    * mapping for every vector — and the appended counter advances by
    * exactly the batch size (cost ∝ batch, nothing retrained). */
  test("incremental build+append is bit-identical to the full rebuild") {
    import org.apache.spark.sql.functions._
    val full = AnnIndex.ensure(spark, sf)
    val incr = AnnIndex.incrementalDir(spark, sf)
    assert(incr != full)
    def codesOf(dir: String) = spark.read.parquet(s"$dir/codes")
      .select(col("vec_id"), col("cell"), col("codes").cast("string").as("cs"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    val cf = codesOf(full); val ci = codesOf(incr)
    assert(ci.keySet == cf.keySet, "incremental index lost or invented vectors")
    assert(ci == cf, "appended rows differ from what a full build writes")
    def artifact(dir: String, name: String) = spark.read.parquet(s"$dir/$name")
      .collect().map(_.toString).sorted.toSeq
    assert(artifact(incr, "coarse") == artifact(full, "coarse"),
      "frozen coarse centroids drifted from full-rebuild training")
    assert(artifact(incr, "codebook") == artifact(full, "codebook"),
      "frozen codebook drifted from full-rebuild training")
    // counters: appended == the batch actually landed; base == subset
    val nApp = Tables.embeddings(spark, sf)
      .filter(AnnIndex.appendSplitPred).count()
    assert(AnnIndex.appendedCount(incr) == nApp)
    // and a re-append of the same batch is a no-op (idempotent)
    val again = AnnIndex.appendAt(spark, incr, Tables.embeddings(spark, sf)
      .filter(AnnIndex.appendSplitPred).select(col("vec_id"), col("embedding")))
    assert(again == 0L, "re-appending an already-landed batch must land 0 rows")
    assert(AnnIndex.appendedCount(incr) == nApp)
    // serve parity end-to-end: the production top-10 matches
    assert(rowsOf(AnnIndex.appendBuildAudit(spark, sf)
        .select(col("vec_id"), col("cos"))) ==
      rowsOf(AnnIndex.ivfpqRerankQuery(spark, sf)
        .orderBy(col("cos").desc, col("vec_id"))))
  }

  test("index stats cover the whole corpus and only sampled cells") {
    val stats = AnnIndex.stats(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(stats.map(_.getAs[Long]("n_vecs")).sum == n,
      "every vector must be assigned to exactly one cell")
    assert(stats.forall(_.getAs[Long]("cell") % 50 == 0),
      "cells must be the deterministic vec_id%50 coarse sample")
    assert(stats.forall(r => r.getAs[Long]("min_vec") <= r.getAs[Long]("max_vec")))
    // m codes in [0, ksub) per vector bound the checksum
    stats.foreach { r =>
      val hi = r.getAs[Long]("n_vecs") * AnnIndex.M * (AnnIndex.Ksub - 1)
      val cs = r.getAs[Long]("code_checksum")
      assert(cs >= 0 && cs <= hi, s"checksum $cs outside [0, $hi]")
    }
  }

  test("fingerprint moves when the source parquet is regenerated") {
    val tmp = tempDir("graft_ann_fp").toFile
    try {
      val src = new java.io.File(s"$sf/embeddings.parquet")
      val dst = new java.io.File(tmp, "embeddings.parquet")
      java.nio.file.Files.copy(src.toPath, dst.toPath)
      val fp1 = AnnIndex.fingerprint(tmp.getAbsolutePath)
      // a regeneration rewrites the file: mtime (and usually length) move
      assert(dst.setLastModified(dst.lastModified() + 60000))
      val fp2 = AnnIndex.fingerprint(tmp.getAbsolutePath)
      assert(fp1 != fp2, "regenerated source must key a NEW index dir")
      // and two different corpora never share an index
      assert(AnnIndex.fingerprint(tmp.getAbsolutePath) !=
        AnnIndex.fingerprint(sf))
    } finally {
      tmp.listFiles.foreach(_.delete())
      tmp.delete(): Unit
    }
  }

  test("building a second corpus's index must not prune the first corpus's (multi-corpus serving)") {
    // regression: the prune in build() keyed on fingerprint alone and
    // deleted every OTHER corpus's live index while builtMemo still
    // memoized it — the next serve read a deleted path (found by the
    // r7 x1-vs-x5 scale sweep). The prune now matches the recorded
    // source path, so only stale dirs of the SAME corpus die.
    val tmp = tempDir("graft_ann_mc").toFile
    try {
      val src = new java.io.File(s"$sf/embeddings.parquet")
      java.nio.file.Files.copy(src.toPath,
        new java.io.File(tmp, "embeddings.parquet").toPath)
      val dirA = AnnIndex.build(spark, sf)
      AnnIndex.build(spark, tmp.getAbsolutePath)
      assert(new java.io.File(dirA, "_GRAFT_INDEX_OK").isFile,
        "corpus A's index must survive corpus B's build")
      // and A still serves (would throw PATH_NOT_FOUND before the fix)
      assert(rowsOf(AnnIndex.pqQuery(spark, sf)) ==
        rowsOf(Similarity.pq(spark, sf)))
      // stale-same-source prune still works: rebuilding B after a
      // "regeneration" (mtime bump) leaves exactly one B dir
      val bFile = new java.io.File(tmp, "embeddings.parquet")
      assert(bFile.setLastModified(bFile.lastModified() + 60000))
      val dirB2 = AnnIndex.build(spark, tmp.getAbsolutePath)
      val root = new java.io.File(dirB2).getParentFile
      // _GRAFT_INDEX_SOURCE records the CANONICAL path (advice r7)
      val srcPath = bFile.getCanonicalPath
      val bDirs = root.listFiles.filter(x => x.isDirectory && {
        val m = new java.io.File(x, "_GRAFT_INDEX_SOURCE")
        m.isFile && new String(
          java.nio.file.Files.readAllBytes(m.toPath), "UTF-8") == srcPath
      })
      assert(bDirs.map(_.getName).toSet == Set(new java.io.File(dirB2).getName),
        s"stale same-source dirs must be pruned, found ${bDirs.mkString(",")}")
    } finally {
      tmp.listFiles.foreach(_.delete())
      tmp.delete(): Unit
    }
  }

  test("append: batch re-encoding is bit-identical to the full build, serving sees it, staleness fires") {
    import org.apache.spark.sql.functions._
    val tmp = tempDir("graft_ann_ap").toFile
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(); ()
    }
    try {
      java.nio.file.Files.copy(
        new java.io.File(s"$sf/embeddings.parquet").toPath,
        new java.io.File(tmp, "embeddings.parquet").toPath)
      val d = tmp.getAbsolutePath
      val dir = AnnIndex.build(spark, d)
      val expectedServe = rowsOf(AnnIndex.ivfpqRerankQuery(spark, d))
      def codeMap(): Map[Long, (Seq[Any], Long)] =
        spark.read.parquet(s"$dir/codes").collect().map(r =>
          r.getAs[Long]("vec_id") ->
            ((r.getSeq[Any](r.fieldIndex("codes")), r.getAs[Long]("cell")))).toMap
      val full = codeMap()
      // drop a 25% slice from the stored codes, then re-add it through
      // the APPEND path: encoding against the stored artifacts must
      // reproduce exactly the rows the full build wrote
      val keepDir = new java.io.File(tmp, "codes_keep")
      spark.read.parquet(s"$dir/codes").filter(col("vec_id") % 4 =!= 0)
        .write.parquet(keepDir.getAbsolutePath)
      rmr(new java.io.File(s"$dir/codes"))
      java.nio.file.Files.move(keepDir.toPath,
        new java.io.File(s"$dir/codes").toPath)
      val batch = Tables.embeddings(spark, d).filter(col("vec_id") % 4 === 0)
      AnnIndex.append(spark, d, batch)
      assert(codeMap() == full,
        "append-path codes/cells must be bit-identical to the full build's")
      // idempotency (advice r8): re-submitting the SAME batch — the
      // retry shape after a crash between the codes write and the
      // counter update — must land zero duplicate rows and leave the
      // appended counter where it was; duplicated (vec_id, codes) rows
      // would occupy multiple top-k slots in ivfpq serving
      val countedOnce = AnnIndex.appendedCount(dir)
      AnnIndex.append(spark, d, batch)
      // row COUNT, not just the map (a map would collapse duplicates)
      assert(spark.read.parquet(s"$dir/codes").count() == full.size,
        "a retried append must not duplicate code rows")
      assert(codeMap() == full)
      assert(AnnIndex.appendedCount(dir) == countedOnce,
        "a retried append must not advance the appended counter")
      // the serving path reads appended rows as ordinary code rows
      assert(rowsOf(AnnIndex.ivfpqRerankQuery(spark, d)) == expectedServe)
      // 25% appended > the 20% StaleFraction → retraining is due...
      assert(AnnIndex.isStale(spark, d), "appended fraction must report stale")
      // ...and a full rebuild resets the counter
      AnnIndex.build(spark, d)
      assert(!AnnIndex.isStale(spark, d), "rebuild must clear staleness")
    } finally rmr(tmp)
  }

  test("append adopts a grown source: NEW vectors serve end-to-end without retraining") {
    // the production shape (review finding r8): new vectors land in
    // the source table (so exact-rerank id-lookups see them), which
    // MOVES the content fingerprint — append must adopt the prior
    // same-source artifacts (hardlinks, no retraining) and encode only
    // the batch, and serving must then cover the whole grown corpus.
    import org.apache.spark.sql.functions._
    val tmp = tempDir("graft_ann_grow").toFile
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(); ()
    }
    try {
      val embDir = new java.io.File(tmp, "embeddings.parquet")
      assert(embDir.mkdirs())
      val all = spark.read.parquet(s"$sf/embeddings.parquet")
      def landPart(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val st = new java.io.File(tmp, "stage")
        df.coalesce(1).write.mode("overwrite").parquet(st.getAbsolutePath)
        val part = st.listFiles.filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath,
          new java.io.File(embDir, name).toPath)
        rmr(st)
      }
      // the base slice must keep vec_id%50==0 rows — they are the
      // deterministic coarse-centroid sample; a base of %5!=0 would
      // train on an EMPTY centroid set (found the hard way)
      landPart(all.filter(col("vec_id") % 5 =!= 3), "part-base.parquet")
      val d = tmp.getAbsolutePath
      val dirOld = AnnIndex.build(spark, d)
      val cbOld = spark.read.parquet(s"$dirOld/codebook")
        .collect().map(_.toSeq).toSet
      // the source GROWS in place: new vectors arrive as a new file
      landPart(all.filter(col("vec_id") % 5 === 3), "part-new.parquet")
      val batch = Tables.embeddings(spark, d).filter(col("vec_id") % 5 === 3)
      val dirNew = AnnIndex.append(spark, d, batch)
      assert(dirNew != dirOld, "grown source must key a new index dir")
      // adopted, not retrained: the codebook is bit-identical
      assert(spark.read.parquet(s"$dirNew/codebook")
        .collect().map(_.toSeq).toSet == cbOld)
      // the whole grown corpus is indexed exactly once
      val codes = spark.read.parquet(s"$dirNew/codes")
      assert(codes.count() == all.count())
      assert(codes.select("vec_id").distinct().count() == all.count())
      // serving runs end-to-end on the grown corpus — the query vector
      // and the rerank id-lookups are appended vectors
      assert(AnnIndex.ivfpqRerankQuery(spark, d).collect().length == 10)
    } finally rmr(tmp)
  }

  test("ann_index_knn_join: batch serving is bit-identical to a per-query serving loop") {
    // the batch path must be EXACTLY the single-query serving path
    // vectorized over q_id — same probe cells, same ADC quantisation,
    // same rerank expression — or its recall claims don't transfer
    val batch = AnnIndex.knnJoin(spark, sf, nq = 5L, k = 5, c = 50)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
    for (q <- 0L until 5L) {
      val single = AnnIndex.ivfpqRerankQuery(spark, sf, queryId = q, k = 5, c = 50)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(q) == single,
        s"q=$q: batch ${batch(q)} != single-query serving $single")
    }
  }

  test("delete: a tombstoned known neighbor vanishes from served top-k and its slot refills") {
    import org.apache.spark.sql.functions._
    val main = AnnIndex.ensure(spark, sf)
    val pre = AnnIndex.ivfpqRerankQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val top1 = pre.head._1
    val vdir = AnnIndex.variant(spark, sf, "spectest")
    val n = AnnIndex.deleteAt(spark, vdir,
      spark.range(1).select(lit(top1).as("vec_id")))
    assert(n == 1L, "one indexed id must tombstone exactly once")
    val post = AnnIndex.ivfpqRerankQueryAt(spark, sf, vdir, 0L, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(!post.map(_._1).contains(top1),
      "the erased id must vanish from the served top-k")
    assert(post.length == 10, "the vacated slot must refill from the next candidate")
    // survivors keep their exact scores and relative order
    assert(post.filter(p => pre.map(_._1).contains(p._1)) == pre.tail,
      "surviving results must be the pre-erasure ranking minus the erased id")
    // idempotent: the same id again, and a never-indexed id, count zero
    assert(AnnIndex.deleteAt(spark, vdir,
      spark.range(1).select(lit(top1).as("vec_id"))) == 0L)
    assert(AnnIndex.deleteAt(spark, vdir,
      spark.range(1).select(lit(-1L).as("vec_id"))) == 0L)
    assert(AnnIndex.deletedCount(vdir) == 1L,
      "retried/missing deletes must not inflate the drift counter")
    // the MAIN index is untouched — variant isolation is the contract
    assert(AnnIndex.ivfpqRerankQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq == pre)
    assert(AnnIndex.deletedCount(main) == 0L)
  }

  test("delete: drift past StaleFraction reports stale, like appends do") {
    import org.apache.spark.sql.functions._
    val vdir = AnnIndex.variant(spark, sf, "specstale")
    val ids = Tables.embeddings(spark, sf).select(col("vec_id"))
    val base = ids.count()
    val cut = (base * AnnIndex.StaleFraction).toLong + 1
    assert(!AnnIndex.isStaleAt(vdir))
    AnnIndex.deleteAt(spark, vdir, ids.filter(col("vec_id") < cut))
    assert(AnnIndex.isStaleAt(vdir),
      s"deleting $cut of $base vectors must cross the ${AnnIndex.StaleFraction} drift gate")
  }

  test("ann_forget: served audit excludes every erased id; newly_promoted is exact") {
    val pre = AnnIndex.ivfpqRerankQuery(spark, sf).collect().map(_.getLong(0))
    val residue = pre.head % 10 // the data-derived erasure class
    val audit = AnnIndex.forgetAudit(spark, sf).collect()
    assert(audit.length == 10)
    assert(audit.forall(_.getLong(0) % 10 != residue),
      s"no erased id (vec_id % 10 == $residue) may appear in the served top-k")
    assert(!audit.map(_.getLong(0)).contains(pre.head),
      "the pre-erasure STRONGEST neighbor is in the erasure class by construction — it must vanish")
    assert(audit.map(_.getInt(2)).toSeq == (1 to 10),
      "ranks must be dense 1..k")
    val preIds = pre.toSet
    audit.foreach { r =>
      assert(r.getBoolean(3) == !preIds.contains(r.getLong(0)),
        s"newly_promoted must mark exactly the ids absent from the pre-erasure top-k: ${r.getLong(0)}")
    }
    assert(audit.exists(_.getBoolean(3)),
      "erasing the top neighbor vacates at least one slot — someone must be newly promoted")
  }

  test("forget/compact audits memoize their variant: repeat invocations serve from the READY marker, same rows") {
    val f1 = AnnIndex.forgetAudit(spark, sf).collect().toSeq
    val fdir = java.nio.file.Paths.get(
      AnnIndex.dirFor(sf) + "_forget", "_GRAFT_VARIANT_READY")
    assert(java.nio.file.Files.exists(fdir), "forget prep must leave a READY marker")
    val mtime1 = java.nio.file.Files.getLastModifiedTime(fdir)
    val f2 = AnnIndex.forgetAudit(spark, sf).collect().toSeq
    assert(f1 == f2, "memoized forget audit must be row-identical")
    assert(java.nio.file.Files.getLastModifiedTime(fdir) == mtime1,
      "second invocation must not re-prepare the variant")

    val c1 = AnnIndex.compactAudit(spark, sf).collect().toSeq
    val cready = java.nio.file.Paths.get(
      AnnIndex.dirFor(sf) + "_compact", "_GRAFT_VARIANT_READY")
    assert(java.nio.file.Files.exists(cready))
    val c2 = AnnIndex.compactAudit(spark, sf).collect().toSeq
    assert(c1 == c2, "memoized compact audit must replay identical counters and top-1")
  }

  test("ann_recall_audit: rows are the exact top-k; recall column replays the served overlap") {
    val exact = Similarity.bruteForce(spark, sf).collect().map(_.getLong(0)).toSeq
    val served = AnnIndex.ivfpqRerankQuery(spark, sf).collect().map(_.getLong(0)).toSet
    val audit = AnnIndex.recallAudit(spark, sf).collect()
    assert(audit.length == 10)
    assert(audit.map(_.getInt(0)).toSeq == (1 to 10), "ranks must be dense 1..k")
    assert(audit.map(_.getLong(1)).toSeq == exact,
      "audit rows must be the exact top-k in rank order")
    var hits = 0
    audit.foreach { r =>
      val hit = served.contains(r.getLong(1))
      assert(r.getBoolean(3) == hit,
        s"hit flag must mark served membership for ${r.getLong(1)}")
      if (hit) hits += 1
      assert(r.getDouble(4) == hits.toDouble / r.getInt(0),
        "recall_at must be the cumulative overlap fraction")
    }
    assert(hits > 0, "a non-degenerate index must recall at least one exact neighbor")
  }

  test("embed_truncation: hit flags replay an in-memory truncated-cosine top-k") {
    val dims = 16
    val vecs = SparkTestSession.spark.read
      .parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val q = vecs.find(_._1 == 0L).get._2
    def topk(slice: Int) = vecs.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(v.take(slice), q.take(slice))) }
      .sortBy { case (id, c) => (-c, id) }.take(10)
    val exactIds = topk(q.length).map(_._1).toSeq
    val truncIds = topk(dims).map(_._1).toSet
    val audit = Similarity.truncationAudit(spark, sf).collect()
    assert(audit.map(_.getLong(1)).toSeq == exactIds,
      "rows must be the full-dim exact top-k in rank order")
    audit.foreach { r =>
      assert(r.getBoolean(3) == truncIds.contains(r.getLong(1)),
        s"hit flag must mark truncated-top-k membership for ${r.getLong(1)}")
    }
    // non-vacuous on this corpus: truncation must actually lose SOME
    // of the full-dim top-k (random embeddings aren't MRL-trained)
    assert(audit.exists(!_.getBoolean(3)),
      "truncation audit is vacuous — every exact neighbor survived")
  }

  test("ann_index_filtered: every slot matches the predicate; rerank parity with in-memory") {
    import org.apache.spark.sql.functions._
    val got = AnnIndex.filteredIndexQuery(spark, sf).collect()
    assert(got.length == 10)
    assert(got.forall(_.getInt(1) % 2 == 0),
      "pre-filtering must spend every rerank slot on a matching vector")
    // rerank parity: the served cosines must equal an in-memory exact
    // rerank of the same candidate ids (the filter must not perturb
    // the scoring expression)
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val q = emb(0L)
    got.foreach { r =>
      val v = emb(r.getLong(0))
      val cos = dot(v, q) / math.sqrt(dot(v, v) * dot(q, q))
      assert(r.getDouble(2) == cos, s"cos drift for ${r.getLong(0)}")
    }
    // and the filtered result is NOT just the unfiltered one (the
    // predicate must bite on this corpus, or the gate is vacuous)
    val unf = AnnIndex.ivfpqRerankQuery(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(got.map(_.getLong(0)).toSeq != unf,
      "corpus sanity: the label predicate must change the served top-k")
  }

  test("ann_index_compact: physical purge preserves serving; tombstones and drift counters reset") {
    import org.apache.spark.sql.functions._
    // a tombstone-only twin of the audit's erasure: serving through the
    // anti-join must equal serving from the physically rewritten codes
    val tdir = AnnIndex.variant(spark, sf, "spectomb")
    AnnIndex.deleteAt(spark, tdir, Tables.embeddings(spark, sf)
      .select(col("vec_id")).filter(col("vec_id") % 10 === 3))
    val tomb = AnnIndex.ivfpqRerankQueryAt(spark, sf, tdir, 0L, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val main = AnnIndex.ensure(spark, sf)
    val total = Tables.embeddings(spark, sf).count()
    val audit = AnnIndex.compactAudit(spark, sf).collect()
    assert(audit.length == 1)
    val r = audit.head
    assert(r.getAs[Long]("erased") + r.getAs[Long]("vecs_after") == total,
      "every vector is either erased or survives compaction")
    assert(r.getAs[Long]("tombstones_remaining") == 0L)
    assert(!r.getAs[Boolean]("stale_after"),
      "compaction must reset the drift clock")
    assert(r.getAs[Long]("top1_vec") % 10 != 3,
      "the served top-1 must never be an erased id")

    val cdir = s"${main}_compact"
    val comp = AnnIndex.ivfpqRerankQueryAt(spark, sf, cdir, 0L, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(comp == tomb,
      "physically rewritten codes must serve exactly what the tombstone anti-join served")
    // post-compaction physical state: no tombstone dir, counters reset,
    // base = surviving codes rows, marker back on
    assert(!new java.io.File(s"$cdir/deleted").isDirectory)
    assert(AnnIndex.deletedCount(cdir) == 0L)
    assert(AnnIndex.appendedCount(cdir) == 0L)
    assert(!AnnIndex.isStaleAt(cdir))
    assert(spark.read.parquet(s"$cdir/codes").count() ==
      r.getAs[Long]("vecs_after"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(cdir, "_GRAFT_INDEX_OK")),
      "the completion marker must come back after the swap")
    // variant isolation: the MAIN index still holds the full corpus
    assert(spark.read.parquet(s"$main/codes").count() == total)
  }

  test("a missing completion marker forces a rebuild (no partial serving)") {
    val dir = AnnIndex.build(spark, sf)
    val marker = java.nio.file.Paths.get(dir, "_GRAFT_INDEX_OK")
    assert(java.nio.file.Files.exists(marker), "build must write the marker last")
    // served output from the fresh build still matches inline
    assert(rowsOf(AnnIndex.pqQuery(spark, sf)) == rowsOf(Similarity.pq(spark, sf)))
  }
}
