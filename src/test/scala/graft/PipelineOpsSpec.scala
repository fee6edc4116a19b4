package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.HashFunctions._
import graft.functions.HashUtil
import graft.operators.{Dedup, Similarity, TextAnalysis}

class PipelineOpsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("fnv64 matches the reference FNV-1a test vectors") {
    // public FNV-1a 64 vectors: fnv1a64("") = offset basis; "a" = 0xaf63dc4c8601ec8c
    assert(HashUtil.fnv1a64(Array.emptyByteArray) == 0xcbf29ce484222325L)
    assert(HashUtil.fnv1a64("a".getBytes("UTF-8")) == 0xaf63dc4c8601ec8cL)
    val row = spark.range(1).select(fnv64(lit("a"))).head()
    assert(row.getLong(0) == 0xaf63dc4c8601ec8cL)
  }

  test("simhash64: identical token arrays hash identically; near arrays are near") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i")
    val mutated = base.updated(5, "changed").updated(30, "other")
    val df = Seq(("a", base), ("a2", base), ("b", mutated))
      .toDF("id", "toks")
      .select(col("id"), simhash64(col("toks")).as("h"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("a") == m("a2"))
    val ham = java.lang.Long.bitCount(m("a") ^ m("b"))
    assert(ham > 0 && ham <= 24, s"hamming=$ham should be small for near-dup")
  }

  test("minhash LSH recovers the highest-jaccard pairs that brute force finds") {
    val brute = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val lsh = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hot = brute.filter(_._3 > 0.8).map(t => (t._1, t._2))
    assert(hot.nonEmpty, "testdata should contain planted near-dups")
    val recovered = hot.count(lsh.contains)
    assert(recovered.toDouble / hot.length >= 0.9,
      s"LSH should recover >=90% of jaccard>0.8 pairs, got $recovered/${hot.length}")
  }

  test("ngramDfCap: capped pairs carry exact full-set jaccard and keep every exact-dup pair") {
    // the cap prunes CANDIDATES only; confirmed scores must be the
    // same exact Jaccard the uncapped path computes for those pairs
    val brute = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val capped = Dedup.ngramDfCap(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(capped.nonEmpty, "df-cap should leave candidates at test SF")
    // the past-gate candidate-scoped confirm (scopeGate forced to 0)
    // must be row-identical to the gated corpus-docsets shape
    val scoped = Dedup.ngramDfCap(spark, sf, scopeGate = 0L).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(scoped.toSeq == capped.toSeq,
      "scale-path confirm diverged from the gated shape")
    capped.foreach { case (pair, j) =>
      brute.get(pair).foreach(bj =>
        assert(math.abs(bj - j) < 1e-12,
          s"pair $pair capped j=$j != brute j=$bj"))
    }
    // exact dups share EVERY shingle, so any rare shingle keeps the
    // pair: all J=1.0 pairs in the brute top-20 must survive the cap
    val exactDups = brute.filter(_._2 >= 1.0 - 1e-12).keySet
    val cappedPairs = capped.map(_._1).toSet
    assert(exactDups.subsetOf(cappedPairs),
      s"lost exact-dup pairs: ${exactDups -- cappedPairs}")
  }

  test("dedup_corpus_near keeps exactly one survivor per cluster and every singleton") {
    val comp = Dedup.clusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val kept = Dedup.dedupCorpusNear(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val byCluster = comp.groupBy(_._2)
    byCluster.foreach { case (c, members) =>
      val survivors = members.map(_._1).filter(kept)
      assert(survivors.toSeq == Seq(members.map(_._1).min),
        s"cluster $c kept ${survivors.toSeq}, expected only the min doc_id")
    }
    assert(kept.size == byCluster.size)
    // near-dedup is at least as aggressive as exact dedup
    assert(kept.size <= Dedup.dedupCorpus(spark, sf).count())
  }

  test("sample_importance: replay of the deterministic coin; monotone in quality") {
    val rows = graft.operators.Curation.sampleImportance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, q, p) =>
      assert(math.abs(p - math.sqrt(q)) < 1e-15, s"doc $id keep_p != sqrt(quality)")
      val hex = graft.functions.KmvSketch.md5Hex(id.toString).substring(0, 15)
      val u = java.lang.Long.parseLong(hex, 16) / 1.152921504606846976e18
      assert(u < p, s"doc $id kept but its deterministic coin $u >= keep_p $p")
    }
    // and no kept-doc is missing: replay the draw over the full corpus
    val quality = graft.operators.TextAnalysis.quality(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality")).toMap
    val expected = quality.filter { case (id, q) =>
      val hex = graft.functions.KmvSketch.md5Hex(id.toString).substring(0, 15)
      java.lang.Long.parseLong(hex, 16) / 1.152921504606846976e18 < math.sqrt(q)
    }.keySet
    assert(rows.map(_._1).toSet == expected)
  }

  test("dedup_bloom: zero false negatives; positions match an in-memory Kirsch-Mitzenmacher replay") {
    val rows = Dedup.bloomDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    assert(rows.nonEmpty)
    // Bloom guarantee: a true duplicate can never miss
    rows.foreach { case (id, hit, dup) =>
      assert(!dup || hit, s"doc $id is a true dup but bloom missed it")
    }
    // independent replay of the filter itself
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def pos(text: String): Set[Long] = {
      val hex = graft.functions.KmvSketch.md5Hex(text)
      val h1 = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      val h2 = java.lang.Long.parseLong(hex.substring(15, 30), 16)
      (0 until Dedup.BloomHashes)
        .map(i => (h1 + i * h2) % Dedup.BloomBits).toSet
    }
    val corpusBits = docs.filter(_._1 % 10 < 8).flatMap(d => pos(d._2)).toSet
    val expected = docs.filter(_._1 % 10 >= 8).map { case (id, text) =>
      id -> pos(text).subsetOf(corpusBits)
    }.toMap
    rows.foreach { case (id, hit, _) =>
      assert(expected(id) == hit, s"doc $id: replay says ${expected(id)}, query says $hit")
    }
    assert(rows.map(_._1).toSet == expected.keySet)
  }

  test("dedup_minhash oracle-exactness margin: no true pair sits near the 0.5 threshold") {
    // the driver oracle for dedup_minhash is the EXACT all-pairs J>=0.5
    // result; LSH equality is recall-conditional and only overwhelming
    // (P(miss) ~ 5e-12 at 8 bands x 4 rows) because every true pair has
    // J >= 0.85. If this margin ever shrinks — new corpus, new planted
    // pairs — raise numHashes/bands BEFORE trusting the oracle row.
    val j = Dedup.ngramJaccard(spark, sf).collect().map(_.getDouble(2))
      .filter(_ >= 0.5)
    assert(j.nonEmpty)
    assert(j.min >= 0.85,
      f"true pair at J=${j.min}%.3f is inside the LSH risk band [0.5, 0.85): " +
        "raise minhash numHashes or mark dedup_minhash rows-only")
  }

  test("ann_lsh results are a subset of brute-force ranking universe") {
    val lsh = Similarity.lsh(spark, sf).collect()
    assert(lsh.nonEmpty)
    // scores are valid cosines
    assert(lsh.forall(r => math.abs(r.getDouble(2)) <= 1.0))
  }

  test("ann_ivf top result is competitive with exact brute force") {
    val exact = Similarity.bruteForce(spark, sf).collect()
      .map(_.getDouble(1)).max
    val approx = Similarity.ivf(spark, sf).collect().map(_.getDouble(2)).max
    assert(approx <= exact + 1e-12)
    assert(approx >= 0.5 * exact,
      s"IVF nprobe=${Similarity.Nprobe} top cosine $approx too far below exact $exact")
  }

  test("ann_ivfpq: every result sits in one of the query's probe cells (in-memory IVF replay)") {
    // replay the coarse quantizer independently: normalize, centroids =
    // vec_id % 50 sample, L2 assignment with (dist, c_id) tie-break
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def norm(v: Array[Float]): Array[Float] = {
      val n2 = math.sqrt(math.max(v.map(x => x.toDouble * x.toDouble).sum, 1e-30))
      v.map(x => (x / n2).toFloat)
    }
    val en = vecs.map { case (id, v) => id -> norm(v) }.toMap
    val cents = en.filter(_._1 % 50 == 0).toSeq.sortBy(_._1)
    def d2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => val df = (x - y).toDouble; df * df }.sum
    def cellOf(v: Array[Float]): Long =
      cents.map { case (cid, c) => (d2(v, c), cid) }.min._2
    val probes = cents.map { case (cid, c) => (d2(en(0L), c), cid) }
      .sorted.take(Similarity.Nprobe).map(_._2).toSet
    val got = Similarity.ivfpq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    got.foreach { case (id, cell, adc) =>
      assert(probes.contains(cell), s"vec $id returned from unprobed cell $cell")
      assert(cellOf(en(id)) == cell, s"vec $id cell $cell != replayed assignment")
      assert(adc >= 0.0)
    }
  }

  test("embed_outliers: parity with an in-memory quantised replay") {
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    val n = vecs.length
    val dim = vecs.head._2.length
    // davg9: exact integer sum of floor(x*1e9), then /1e9/COUNT
    def davg9(xs: Seq[Double]): Double =
      xs.map(x => math.floor(x * 1e9).toLong).sum.toDouble / 1e9 / xs.size
    val mu = (0 until dim).map(j => davg9(vecs.map(_._2(j)).toSeq))
    val d2 = vecs.map { case (id, v) =>
      id -> v.indices.map { j =>
        val df = v(j) - mu(j); math.floor(df * df * 1e9).toLong
      }.sum.toDouble / 1e9
    }
    val muD = davg9(d2.map(_._2).toSeq)
    val muD2 = davg9(d2.map(x => x._2 * x._2).toSeq)
    val sdD = math.sqrt(math.max(muD2 - muD * muD, 0.0))
    val expected = d2.map { case (id, x) =>
      (id, x, if (sdD > 0) (x - muD) / sdD else 0.0)
    }.sortBy { case (id, _, z) => (-z, id) }.take(20).toSeq
    val got = Similarity.outliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got == expected)
    assert(got.head._3 > 0, "top outlier should sit above the mean distance")
  }

  test("dedup_fuzzy: parity with an independent in-memory blocking+DP") {
    // classic O(mn) DP, written here independently of both engines
    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      val cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length) {
          val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
        }
        Array.copy(cur, 0, prev, 0, cur.length)
      }
      prev(b.length)
    }
    val docs = graft.Tables.documents(spark, SparkTestSession.sf)
      .select("doc_id", "lang", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val blocked = docs.map { case (id, lang, nc, text) =>
      (id, (lang, nc / 16, text.split(" ", 2).head), text.take(64))
    }
    val expected = (for {
      (ia, ka, pa) <- blocked; (ib, kb, pb) <- blocked
      if ka == kb && ia < ib
      d = lev(pa, pb) if d <= 16
    } yield (ia, ib, d)).toSet
    val got = Dedup.fuzzy(spark, SparkTestSession.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(expected.nonEmpty, "blocking must yield at least one pair at sf0.001")
    assert(got == expected, s"fuzzy pairs diverge: got $got expected $expected")
  }

  test("dedup_substring: parity with an independent in-memory gram-coverage scan") {
    val k = 8
    val docs = graft.Tables.documents(spark, SparkTestSession.sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val gramDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    for ((id, ws) <- docs; i <- 0 to ws.length - k)
      gramDocs.getOrElseUpdate(ws.slice(i, i + k).mkString(" "),
        scala.collection.mutable.Set.empty) += id
    val dup = gramDocs.filter(_._2.size >= 2).keySet
    val expected = docs.map { case (id, ws) =>
      val starts = (0 to ws.length - k).filter(i => dup(ws.slice(i, i + k).mkString(" ")))
      val covered = starts.flatMap(i => i until i + k).distinct.size
      (id, ws.length, starts.size.toLong, covered.toLong,
        if (ws.length == 0) 0.0 else covered.toDouble / ws.length)
    }.sortBy(_._1).toSeq
    val got = Dedup.substringCoverage(spark, SparkTestSession.sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(expected.exists(_._4 > 0), "corpus must contain at least one duplicated span")
    assert(got == expected)
  }

  test("dedup_substring plan has no pairwise doc join and no global window") {
    val df = Dedup.substringCoverage(spark, SparkTestSession.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"pairwise join detected:\n$p")
    assert(!p.contains("SinglePartition"), s"global exchange detected:\n$p")
  }

  test("embed_quantize: recompute parity and the (scale/2)^2 error bound") {
    val vecs = Tables.embeddings(spark, sf).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val d = vecs.head.length
    val expected = (0 until d).map { dim =>
      val xs = vecs.map(_(dim).toDouble)
      val (vmin, vmax) = (xs.min, xs.max)
      val ses = xs.map { x =>
        val code = if (vmax > vmin)
          math.min(255.0, math.floor((x - vmin) * 255.0 / (vmax - vmin)))
        else 0.0
        val xhat = vmin + (code + 0.5) * (vmax - vmin) / 255.0
        (x - xhat) * (x - xhat)
      }
      val mse = ses.map(se => math.floor(se * 1e15).toLong).sum / 1e15 / xs.length
      (dim.toLong, vmin, vmax, xs.length.toLong, mse)
    }
    val got = Similarity.quantize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got == expected)
    // midpoint reconstruction keeps every element within half a step,
    // so per-dim MSE is bounded by (range/255/2)^2
    for ((dim, vmin, vmax, _, mse) <- got) {
      val halfStep = (vmax - vmin) / 255.0 / 2.0
      assert(mse <= halfStep * halfStep + 1e-12, s"dim $dim mse $mse above bound")
    }
  }

  test("ann_filtered: parity with an in-memory filtered exact scan") {
    val rows = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val q = rows.find(_._1 == 0L).get._3
    val qn2 = dot(q, q)
    val expected = rows
      .filter(r => r._1 != 0L && r._2 % 2 == 0)
      .map { case (id, lb, e) =>
        (id, lb, dot(e, q) / math.sqrt(dot(e, e) * qn2)) }
      .sortBy { case (id, _, cos) => (-cos, id) }.take(10).toSeq
    val got = Similarity.filteredSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got == expected)
    assert(got.forall(_._2 % 2 == 0), "every hit passes the metadata filter")
  }

  test("ann_hybrid: RRF parity with an in-memory two-leg replay") {
    // lexical leg: distinct-word sets (split keeps empties, like Spark's)
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSet))
    val nDocs = docs.length.toLong
    val dfw = docs.flatMap(_._2).groupBy(identity)
      .map { case (w, ws) => w -> ws.length.toLong }
    val qws = docs.find(_._1 == 0L).get._2
    val idf = qws.map(w => w -> 1000000L * nDocs / dfw(w)).toMap
    val lexRank = docs.filter(_._1 != 0L)
      .map { case (id, ws) => id -> ws.intersect(qws).toSeq.map(idf).sum }
      .filter(_._2 > 0L).sortBy { case (id, sc) => (-sc, id) }.take(50)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    // vector leg: exact cosine to vec 0
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val q = vecs.find(_._1 == 0L).get._2
    val qn2 = dot(q, q)
    val vecRank = vecs.filter(_._1 != 0L)
      .map { case (id, e) => id -> dot(e, q) / math.sqrt(dot(e, e) * qn2) }
      .sortBy { case (id, cos) => (-cos, id) }.take(50)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val expected = (lexRank.keySet ++ vecRank.keySet).toSeq
      .map { id =>
        val rrf = lexRank.get(id).map(r => 1000000000L / (60 + r)).getOrElse(0L) +
          vecRank.get(id).map(r => 1000000000L / (60 + r)).getOrElse(0L)
        (id, rrf, lexRank.get(id), vecRank.get(id))
      }
      .sortBy { case (id, rrf, _, _) => (-rrf, id) }.take(10)
    val got = Similarity.hybridRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        if (r.isNullAt(3)) None else Some(r.getInt(3)))).toSeq
    assert(got == expected, "fixed-point RRF fusion must replay exactly")
    assert(got.forall { case (_, _, l, v) =>
      l.forall(r => r >= 1 && r <= 50) && v.forall(r => r >= 1 && r <= 50) &&
        (l.nonEmpty || v.nonEmpty) },
      "every fused row carries at least one in-bounds leg rank")
  }

  test("dedup_minhash_index: parity with exact batch-vs-stored Jaccard; index reused, append idempotent") {
    import graft.operators.MinhashIndex
    // start from a CLEAN index: the append phase below mutates the
    // fingerprint-keyed dir, and a mid-test failure in a prior run
    // would otherwise leak its seen/bands into this one
    MinhashIndex.invalidate(MinhashIndex.ensure(spark, sf))
    // in-memory exact ground truth: distinct word bigrams per doc,
    // batch (doc_id%4==0) against stored, J >= 0.5
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def shs(t: String): Set[String] = {
      val ws = t.split(" ")
      if (ws.length < 2) Set.empty
      else ws.sliding(2).map(_.mkString(" ")).toSet
    }
    val byDoc = docs.map { case (id, t) => id -> shs(t) }.toMap
    val (batch, stored) = docs.map(_._1).partition(_ % 4 == 0)
    val expected = (for {
      b <- batch; c <- stored
      inter = byDoc(b).intersect(byDoc(c)).size
      if inter > 0
      j = inter.toDouble / (byDoc(b).size + byDoc(c).size - inter)
      if j >= 0.5
    } yield (b, c, j)).sortBy(p => (p._1, p._2)).toSeq
    val got = MinhashIndex.incrementalNearDups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected,
      "index-served candidates->confirm must equal the exact batch x stored pairs")
    assert(got.nonEmpty, "the gated split must produce at least one near-dup pair")
    // second invocation reuses the artifact (no rebuild): marker mtime fixed
    val dir = MinhashIndex.ensure(spark, sf)
    val m = new java.io.File(dir, "_GRAFT_MH_OK")
    val t0 = m.lastModified()
    MinhashIndex.incrementalNearDups(spark, sf).collect()
    assert(m.lastModified() == t0, "a probe must never rebuild the index")
    // append: accepted batch lands once; a retry adds zero rows.
    // Appended bands publish as bands/batch-*/ subdirs (atomic-rename
    // commit, r12), so counts read recursively like the operator does.
    def bandRows() = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/bands").count()
    val bandsBefore = bandRows()
    val batchDocs = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 4 === 0)
    val added = MinhashIndex.append(spark, sf, batchDocs)
    assert(added == batch.length.toLong,
      s"append must encode every new batch doc once ($added vs ${batch.length})")
    val bandsAfter = bandRows()
    assert(bandsAfter > bandsBefore)
    assert(MinhashIndex.append(spark, sf, batchDocs) == 0L,
      "a retried append must add zero rows")
    assert(bandRows() == bandsAfter)
    // shingle-less docs (<2 words, no band rows) must still be
    // idempotent: the seen set, not the band table, keys the anti-join
    // (review r11)
    import spark.implicits._
    val tiny = Seq((900000000L, "solo")).toDF("doc_id", "text")
    assert(MinhashIndex.append(spark, sf, tiny) == 1L)
    assert(MinhashIndex.append(spark, sf, tiny) == 0L,
      "a retried shingle-less append must be a no-op, not forever-fresh")
    // crash window (b) of the r12 bands-first protocol: bands were
    // published but the process died before `seen` committed. A retry
    // must re-admit ONLY the docs with no band evidence (the
    // shingle-less ones) and never duplicate a band row.
    val bandsBeforeCrash = bandRows()
    def rmrF(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(rmrF)
      f.delete(): Unit
    }
    rmrF(new java.io.File(s"$dir/seen"))
    val shingleless = batch.count(b => byDoc(b).isEmpty).toLong
    val readmitted = MinhashIndex.append(spark, sf, batchDocs)
    assert(readmitted == shingleless,
      s"post-crash retry must re-admit exactly the band-less docs " +
        s"($readmitted vs $shingleless)")
    assert(bandRows() == bandsBeforeCrash,
      "post-crash retry must never duplicate band rows")
    // the probe is STRUCTURALLY robust to the mutated dir: stored side
    // excludes batch-split rows, so no self-pairs or batch x batch
    // pairs appear even without invalidate() (review r11)
    val afterAppend = MinhashIndex.incrementalNearDups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(afterAppend == got.toSet,
      "a mutated dir must not change the gated probe's result")
    // drop dir AND memo so later suites rebuild the stored-only artifact
    MinhashIndex.invalidate(dir)
  }

  test("dedup_forget: promotes the next non-erased copy; parity with in-memory recompute") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def fp(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val expected = docs.groupBy { case (_, t) => fp(t) }.toSeq.flatMap {
      case (f, members) =>
        val ids = members.map(_._1).sorted
        val kept = ids.filter(_ % 7 != 2)
        val oldKeep = ids.head
        if (kept.headOption.contains(oldKeep)) None // survivor untouched
        else Some((f, oldKeep, kept.headOption, kept.length.toLong))
    }.sortBy(_._2)
    val got = graft.operators.Dedup.dedupForget(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.nonEmpty, "the mod-7 erasure must hit at least one survivor")
    assert(got.forall { case (_, oldK, newK, _) =>
      oldK % 7 == 2 && newK.forall(n => n % 7 != 2 && n > oldK) },
      "every row must be an erased survivor promoting a later non-erased copy")
  }

  test("dedup_exact keeps one survivor per distinct text") {
    val n = Tables.documents(spark, sf).count()
    assert(Dedup.exact(spark, sf).count() == n) // testdata has no exact dups
  }

  test("semanticKFor: k=8 at every gated size; cluster population bounded past them") {
    for (n <- Seq(100L, 500L, 2000L))
      assert(Similarity.semanticKFor(n) == 8, s"gated n=$n must stay k=8")
    for (n <- Seq(2001L, 4000L, 10000L, 25000L, 100000L, 1000000L)) {
      val k = Similarity.semanticKFor(n)
      val pop = n.toDouble / k
      assert(pop >= 124.0 && pop <= 250.0,
        s"n=$n k=$k population $pop outside [124, 250] — the pair space " +
          "would grow superlinearly (too big) or the clusters degenerate (too small)")
      assert((k & (k - 1)) == 0, s"k=$k must stay a power of two")
    }
    // past ~1M vectors the rule holds k at 4096 (bounded centroid
    // broadcast / assignment cost) and populations grow instead —
    // the documented trade; the in-cluster banded path is the remedy
    for (n <- Seq(2000000L, 100000000L))
      assert(Similarity.semanticKFor(n) == 4096, s"cap must hold at n=$n")
  }

  /** Minibatch-training parity (r13, verdict item 5): past the
    * [[Similarity.MinibatchGate]] Lloyd rounds train on a deterministic
    * vec_id-stride sample and only the final assignment pays a full
    * pass. Forcing the path at the gated SF (stride 1/3 ≈ 33% — a
    * HARSHER subsample than production's self-tuned ~13%+ slice at the
    * 1M gate) must land near the exact training: high assignment
    * agreement and an inertia objective within a few percent. */
  test("kmeans minibatch training: assignment agreement and objective parity") {
    val exact = Similarity.kmeansAssign(spark, sf, 8, 2)
      .select("vec_id", "c", "cd2").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val mini = Similarity.kmeansAssign(spark, sf, 8, 2,
        forceMinibatch = true, trainSampleMod = 3)
      .select("vec_id", "c", "cd2").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(mini.keySet == exact.keySet, "minibatch lost or invented vectors")
    // the guarantee minibatch k-means actually makes (Sculley, WWW'10)
    // is on the OBJECTIVE, not the labels: this synthetic corpus has
    // weak cluster structure (pairwise-cos ceiling ~0.6), so boundary
    // vectors legitimately flip under subsampled training (measured
    // ~0.58 agreement at 1/3 stride) — the inertia bound is the parity
    // claim, the agreement bound only catches catastrophic drift
    val agree = exact.count { case (id, (c, _)) => mini(id)._1 == c }
    val frac = agree.toDouble / exact.size
    assert(frac >= 0.4, f"assignment agreement $frac%.3f < 0.4 — " +
      "sampled training collapsed, not just boundary flips")
    def inertia(m: Map[Long, (Int, Double)]): Double = m.values.map(_._2).sum
    val ratio = inertia(mini) / inertia(exact)
    assert(ratio <= 1.02 && ratio >= 0.98,
      f"minibatch inertia ratio $ratio%.4f outside [0.98, 1.02] — " +
        "the clustering objective drifted, not just labels")
    // and the production gate stays closed at gated SFs: same rows as
    // the exact path when not forced
    val prod = Similarity.kmeansAssign(spark, sf, 8, 2)
      .select("vec_id", "c").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(prod == exact.map { case (id, (c, _)) => id -> c })
  }

  // shared by the k=8 (gated) and k=16 (first adaptive step) parity
  // runs: the same left-to-right double fold as dotD / the cosOf oracle
  private def semanticExpected(k: Int): Seq[(Long, Int, Long, Double, Boolean)] = {
    val assign = Similarity.kmeansAssign(spark, sf, k, 2)
      .select("vec_id", "c", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val best = assign.flatMap { case (id, c, e) =>
      val mates = assign.filter(m => m._2 == c && m._1 < id)
      if (mates.isEmpty) None
      else {
        val n2 = dot(e, e)
        val (mid, cos) = mates.map { case (m, _, me) =>
          (m, dot(e, me) / math.sqrt(dot(me, me) * n2)) }
          .minBy { case (m, cs) => (-cs, m) }
        Some((id, c, mid, cos))
      }
    }
    best.sortBy { case (id, _, _, cos) => (-cos, id) }.take(50)
      .map { case (id, c, mid, cos) => (id, c, mid, cos, cos >= 0.45) }.toSeq
  }

  test("dedup_semantic: parity with an in-memory cluster-local argmax") {
    val got = Similarity.semanticDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(got == semanticExpected(8))
  }

  test("dedup_semantic: parity holds at the first ADAPTIVE k (16), not just the gated 8") {
    val got = Similarity.semanticDedup(spark, sf, kOverride = 16).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(got == semanticExpected(16),
      "the adaptive-k path must produce exactly the cluster-local argmax " +
        "at a k the footer rule can emit — exactness past the gated sizes " +
        "is recompute-pinned, not oracle-pinned (the ADVICE r7 pattern)")
  }

  test("dedup_semantic: past-cap BANDED pair stage matches the exact in-cluster pass") {
    // the A/B point the VERDICT asked for, pinned at a RECALL-TOTAL
    // geometry (bandedBits=4: P(per-band collide) is high enough that
    // 64 bands surface every pair on this corpus): row-identical to
    // the exact self-join proves the candidates→confirm→argmax
    // plumbing, and the confirm reuses the exact cosine expression so
    // surviving pairs can't drift. The production default (bits=9)
    // deliberately trades recall at WEAK cos for the 8× candidate cut
    // — this synthetic corpus's "top-50" lives at cos ≈ 0.55, below
    // any production near-dup threshold, so equality there is pinned
    // by the ×5 sweep (replica pairs at cos ≈ 1) and the next test
    // pins its SOUNDNESS here instead.
    val banded = Similarity.semanticDedup(spark, sf, kOverride = 8,
        forceBanded = true, bandedBits = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(banded == semanticExpected(8),
      "banded in-cluster candidates must surface every exact top-50 pair " +
        "at the recall-total A/B geometry")
  }

  test("dedup_semantic: banded pairs at PRODUCTION bits are sound (exact cos, real cluster-mates)") {
    // at bits=9 recall for this corpus's weak-cos tail is partial BY
    // DESIGN — but every emitted row must still be a genuine
    // cluster-mate pair scored with the exact cosine: the banded path
    // may MISS, it must never FABRICATE or mis-score
    val exactAll = semanticExpected(8) // ordered exact top-50
    val exactByVec = exactAll.map(t => (t._1, t._3) -> t._4).toMap
    val assign = Similarity.kmeansAssign(spark, sf, 8, 2)
      .select("vec_id", "c").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val banded = Similarity.semanticDedup(spark, sf, kOverride = 8,
        forceBanded = true).collect()
    assert(banded.nonEmpty)
    banded.foreach { r =>
      val (v, c, m, cos) = (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))
      assert(assign(v) == c && assign(m) == c && m < v,
        s"banded pair ($v, $m) must be lower-id cluster-mates of cluster $c")
      exactByVec.get((v, m)).foreach(e => assert(e == cos,
        s"cos for ($v, $m) must bit-match the exact pass"))
    }
  }

  test("sample_cluster_balanced: exact per-cluster quotas of the md5-smallest ids") {
    val assign = Similarity.kmeansAssign(spark, sf, 8, 2)
      .select("vec_id", "c").collect().map(r => (r.getLong(0), r.getInt(1)))
    def hex(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = assign.groupBy(_._2).toSeq.flatMap { case (c, members) =>
      members.map(_._1).sortBy(id => (hex(id), id)).take(25)
        .zipWithIndex.map { case (id, i) => (c, i + 1, id) }
    }.sortBy { case (c, rk, _) => (c, rk) }
    val got = Similarity.sampleClusterBalanced(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  /** In-memory CDC chunker shared by the chunk-report and pair tests:
    * (doc_id, chunk text, n_words) per occurrence. */
  private def cdcChunkRows(docs: Array[(Long, String)]): Array[(Long, String, Int)] =
    docs.flatMap { case (id, text) =>
      val ws = text.split(" ", -1) // keep trailing empties, like Spark split
      val bpos = (3 until ws.length).filter { i =>
        val gram = ws.slice(i - 3, i + 1).mkString(" ")
        (HashUtil.fnv1a64(gram.getBytes("UTF-8")) & 15L) == 0L
      }
      val starts = 0 +: bpos.map(_ + 1)
      val ends = bpos :+ (ws.length - 1)
      starts.zip(ends).collect { case (st, en) if st <= en =>
        (id, ws.slice(st, en + 1).mkString(" "), en - st + 1)
      }
    }

  private def md5hex16(t: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 16)

  test("text_cdc_chunks: parity with an in-memory rolling-hash chunker") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val chunkRows = cdcChunkRows(docs)
    val expected = chunkRows.filter(_._3 >= 4)
      .map { case (id, ctext, nw) => (id, md5hex16(ctext), nw) }
      .groupBy(_._2).toSeq
      .map { case (fp, rs) =>
        (fp, rs.map(_._1).distinct.length.toLong, rs.length.toLong, rs.map(_._3).max) }
      .sortBy { case (fp, _, occ, _) => (-occ, fp) }
      .take(20)
    val got = TextAnalysis.cdcChunks(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got == expected)
  }

  test("dedup_cdc: parity with an in-memory chunk-containment scan") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val chd = cdcChunkRows(docs).filter(_._3 >= 4)
      .map { case (id, ctext, _) => (id, md5hex16(ctext)) }.distinct
    val sizes = chd.groupBy(_._1).view.mapValues(_.length).toMap
    val pairOcc: Seq[(Long, Long)] = chd.groupBy(_._2).values.toSeq
      .flatMap { occ =>
        val ids: Seq[Long] = occ.map(_._1).distinct.sorted.toSeq
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }
    val expected = pairOcc.groupBy(identity).view.mapValues(_.size).toSeq
      .map { case ((a, b), shared) =>
        (a, b, shared.toLong, shared.toDouble / math.min(sizes(a), sizes(b))) }
      .filter(_._4 >= 0.5)
      .sortBy { case (a, b, _, sc) => (-sc, a, b) }
    val got = graft.operators.TextAnalysis.cdcPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected)
  }

  test("dedup_cdc: a shifted embedded span is caught at chunk granularity") {
    val dir = tempDir("cdc_pair").toString
    import spark.implicits._
    val span = (1 to 200).map(i => s"shared$i").mkString(" ")
    // doc 2 embeds doc 1's whole content behind a different prefix —
    // containment of the SMALLER doc's chunks should fire
    val doc1 = span
    val doc2 = s"completely different and longer prefix tokens here $span"
    Seq((1L, doc1, "en", "a", doc1.length.toLong),
        (2L, doc2, "en", "b", doc2.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = graft.operators.TextAnalysis.cdcPairs(spark, dir).collect()
    assert(rows.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getDouble(3) >= 0.5),
      "the embedded doc's chunk set must be >= 50% contained in the host doc")
  }

  test("text_cdc_chunks: shifted shared spans chunk identically (the CDC property)") {
    val dir = tempDir("cdc_prop").toString
    import spark.implicits._
    val span = (1 to 200).map(i => s"shared$i").mkString(" ")
    val doc1 = s"alpha beta $span omega"
    val doc2 = s"completely different and longer prefix tokens here $span trailer"
    Seq((1L, doc1, "en", "a", doc1.length.toLong),
        (2L, doc2, "en", "b", doc2.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.cdcChunks(spark, dir).collect()
    assert(rows.exists(r => r.getLong(1) == 2L),
      "a shifted shared span must produce at least one byte-identical " +
        "chunk in both documents — content-defined boundaries resynchronize")
  }

  test("text_boilerplate: parity with an in-memory C4-style span scrub") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val grams = docs.toSeq.flatMap { case (id, t) =>
      val ws = t.split(" ", -1)
      (0 to ws.length - 5).map(i => (id, i, ws.slice(i, i + 5).mkString(" ")))
    }
    val df = grams.map { case (id, _, p) => (p, id) }.distinct
      .groupBy(_._1).view.mapValues(_.size).toMap
    val hot = df.filter(_._2 >= 3).keySet
    val covByDoc = grams.filter(g => hot(g._3))
      .flatMap { case (id, i, _) => (i until i + 5).map(p => (id, p)) }
      .distinct.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = docs.toSeq.map { case (id, t) =>
      val ws = t.split(" ", -1)
      val cov = covByDoc.getOrElse(id, Set.empty[Int])
      val kept = ws.zipWithIndex.collect { case (w, i) if !cov(i) => w }
      (id, ws.length.toLong, cov.size.toLong, kept.mkString(" "))
    }.sortBy(_._1)
    assert(expected.exists(_._3 > 0),
      "fixture must exercise removal — near-dup docs share hot 5-grams")
    val got = TextAnalysis.boilerplateScrub(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == expected)
  }
}
