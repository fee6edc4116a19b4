package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.HashUtil
import graft.operators.{Curation, Similarity}

class CurationSpec extends AnyFunSuite {
  import SparkTestSession._

  test("sample_uniform_n is deterministic and exactly n rows") {
    val a = Curation.sampleUniformN(spark, sf, 50).collect()
    val b = Curation.sampleUniformN(spark, sf, 50).collect()
    assert(a.length == 50)
    assert(a.toSeq == b.toSeq, "hash-ranked sample must be reproducible")
  }

  test("sample_split: in-memory replay parity; exact dups never straddle splits") {
    val got = Curation.sampleSplit(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // independent replay: same md5-prefix bucketing over collected rows
    val docs = graft.Tables.documents(spark, sf)
      .select("text", "source", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def hex2(t: String): String = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      f"${dig(0) & 0xff}%02x"
    }
    def splitOf(t: String): String = {
      val b = hex2(t)
      if (b < "f6") "train" else if (b < "fb") "val" else "test"
    }
    val expect = docs.groupBy(d => (splitOf(d._1), d._2)).map { case ((sp, src), xs) =>
      (sp, src, xs.length.toLong, xs.map(_._3).sum, 0L)
    }.toSet
    assert(got.toSet == expect, "per-(split, source) audit diverged from replay")
    assert(got.forall(_._5 == 0L), "content-keyed split reported straddling dups")
    // the leak-proof property is structural: planted exact duplicates
    // of one text land in ONE split, and the straddle counter would
    // catch an id-keyed regression (same text, different ids)
    import spark.implicits._
    val planted = Seq.tabulate(6)(i => (i.toLong, "same text body", "en", "webA", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val p = Curation.sampleSplitOf(planted).collect()
    assert(p.length == 1 && p.head.getLong(2) == 6L && p.head.getLong(4) == 0L,
      s"6 identical docs must land in one (split, source) row: ${p.toSeq}")
  }

  test("sample growth is prefix-stable: top-50 is a subset of top-100") {
    val small = Curation.sampleUniformN(spark, sf, 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val big = Curation.sampleUniformN(spark, sf, 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(big),
      "growing n must only add rows, never swap them (stable ranking)")
  }

  test("sample_dsir: parity with an independent in-memory FNV replay; target shift") {
    val got = Curation.sampleDsir(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    // independent replay: HashUtil.fnv1a64 (the public-test-vector
    // implementation), plain Scala maps — no Spark expressions reused
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    def bucket(w: String): Int =
      (HashUtil.fnv1a64(w.getBytes("UTF-8")) & 63L).toInt
    val toks = docs.flatMap { case (id, text, lang, src) =>
      text.split(" ", -1).map(w => (id, lang, src, bucket(w))) }
    val raw = toks.groupBy(_._4).view.mapValues(_.length.toLong).toMap
    val tgt = toks.filter(_._2 == "en").groupBy(_._4)
      .view.mapValues(_.length.toLong).toMap
    val wb = raw.map { case (b, r) =>
      b -> (1000000L * (tgt.getOrElse(b, 0L) + 1L)) / (r + 1L) }
    val scores = toks.groupBy(t => (t._1, t._2, t._3)).map { case (k, ts) =>
      k -> ts.map(t => wb(t._4)).sum / ts.length }
    val expect = scores.toSeq
      .sortBy { case ((id, _, _), sc) => (-sc, id) }.take(200)
      .map { case ((id, lang, src), sc) => (id, sc, lang, src) }
    assert(got.toSeq == expect, "fixed-point DSIR scores must replay exactly")
    // the point of DSIR: the selected set over-represents the target
    val enAll = docs.count(_._3 == "en").toDouble / docs.length
    val enSel = got.count(_._3 == "en").toDouble / got.length
    assert(enSel > enAll,
      f"selected en share $enSel%.2f must exceed corpus share $enAll%.2f")
  }

  test("sample_temperature: Hamilton apportionment parity and √-smoothing") {
    val rows = Curation.sampleTemperature(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val counts = Tables.documents(spark, sf).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // in-memory largest-remainder replay in the same integer domain
    val z = counts.view.mapValues(n =>
      math.floor(math.sqrt(n.toDouble) * 1e9).toLong).toMap
    val zsum = z.values.sum
    val base = z.view.mapValues(v => 200L * v / zsum).toMap
    val rem = z.map { case (l, v) => l -> (200L * v % zsum) }
    val leftover = (200L - base.values.sum).toInt
    val extras = rem.toSeq.sortBy { case (l, r) => (-r, l) }
      .take(leftover).map(_._1).toSet
    val alloc = counts.keys.map { l =>
      l -> math.min(base(l) + (if (extras(l)) 1L else 0L), counts(l))
    }.toMap
    val perLang = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    assert(perLang == alloc.filter(_._2 > 0),
      "per-language sample sizes must equal the integer Hamilton quotas")
    assert(rows.length == 200, "no cap binds here, so quotas sum to the budget")
    // τ=0.5 smoothing: the head language's share drops below its
    // proportional share, every smaller language's share rises above
    val total = counts.values.sum.toDouble
    val head = counts.maxBy(_._2)._1
    assert(alloc(head).toDouble / 200 < counts(head) / total)
    for ((l, n) <- counts if counts(l) < counts(head))
      assert(alloc(l).toDouble / 200 > n / total,
        s"tail language $l must be up-weighted by the temperature")
  }

  test("sample_temperature: a capped stratum under-fills the budget, never refills the head") {
    val dir = tempDir("temp_cap").toString
    import spark.implicits._
    // one 4-doc tail language against a 996-doc head: sqrt smoothing
    // asks the tail for far more than it has, so its quota caps at 4
    // and the sample comes back under budget by design
    val docs = (0L until 996L).map(i => (i, s"doc $i", "en", "s", 5L)) ++
      (996L until 1000L).map(i => (i, s"doc $i", "zz", "s", 5L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = Curation.sampleTemperature(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val perLang = rows.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perLang("zz") == 4, "the capped stratum contributes all it has")
    // head gets exactly its own (uncapped) Hamilton quota — the
    // tail's surplus is dropped, not handed back to the head
    val zEn = math.floor(math.sqrt(996.0) * 1e9).toLong
    val zZz = math.floor(math.sqrt(4.0) * 1e9).toLong
    val quotaEn = (200L * zEn / (zEn + zZz)).toInt // remainder goes to zz
    assert(perLang("en") == quotaEn,
      s"head must keep its own quota $quotaEn, got ${perLang("en")}")
    assert(rows.length < 200, "the shortfall is loud in the row count")
  }

  test("corpus_epochs: in-memory Hamilton replay; the 4-epoch cap fires on hard skew") {
    // parity on the real corpus
    val got = graft.operators.Corpus.corpusEpochs(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val toks = Tables.documents(spark, sf)
      .selectExpr("lang", "CAST(size(split(text, ' ')) AS LONG) AS t")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val ntot = toks.values.sum
    val z = toks.view.mapValues(n =>
      math.floor(math.sqrt(n.toDouble) * 1e6).toLong).toMap
    val zsum = z.values.sum
    val wbase = z.view.mapValues(v => 1000000L * v / zsum).toMap
    val wrem = z.map { case (l, v) => l -> (1000000L * v % zsum) }
    val leftover = (1000000L - wbase.values.sum).toInt
    val extras = wrem.toSeq.sortBy { case (l, r) => (-r, l) }
      .take(leftover).map(_._1).toSet
    val expected = toks.keys.toSeq.sorted.map { l =>
      val w = wbase(l) + (if (extras(l)) 1L else 0L)
      val target = 2L * ntot * w / 1000000L
      val epochs = math.min(4000000L, 1000000L * target / toks(l))
      val realized = math.min(target, toks(l) * 4000000L / 1000000L)
      (l, toks(l), w, target, epochs, realized)
    }
    assert(got.toSeq == expected)
    assert(got.map(_._3).sum == 1000000L, "ppm weights apportion exactly")
    // hard skew: a 20-token language among 20000 tokens gets a √-smoothed
    // target far past 4 epochs — the cap must bind and the shortfall show
    val dir = tempDir("epochs_cap").toString
    import spark.implicits._
    val big = (0L until 400L).map(i => (i, ("tok " * 49).trim, "en", "s", 5L))
    val small = Seq((400L, ("tok " * 19).trim, "zz", "s", 5L))
    (big ++ small).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val zzRow = graft.operators.Corpus.corpusEpochs(spark, dir).collect()
      .find(_.getString(0) == "zz").get
    assert(zzRow.getLong(4) == 4000000L, "cap must bind for the tiny language")
    assert(zzRow.getLong(5) < zzRow.getLong(3),
      "realized under target — the shortfall is visible, not refilled")
  }

  test("sample_stratified fills exact per-language quotas") {
    val rows = Curation.sampleStratified(spark, sf, 10).collect()
    val perLang = rows.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    val langs = Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, n) <- langs)
      assert(perLang.getOrElse(lang, 0) == math.min(10L, n).toInt,
        s"stratum $lang quota wrong")
    // ranks are 1..k contiguous within each stratum
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length))
    }
  }

  /** text_scrub parity against an INDEPENDENT Java-regex scrub: the
    * operator's counts and scrubbed-text md5 must equal a plain-Scala
    * re-derivation (same shared patterns, java.util.regex engine), and
    * the scrubbed text must carry no residual PII matches. The oracle
    * checks Spark-vs-DuckDB; this pins Spark-vs-reference-semantics. */
  test("text_scrub: counts and redaction parity with an independent scrub") {
    import graft.operators.TextAnalysis._
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def aug(id: Long, text: String): String = {
      val sb = new StringBuilder(text)
      if (id % 5 == 0) sb.append(
        s" Contact alice.smith+$id@mail-example.org or bob@test.net for details.")
      if (id % 7 == 0) sb.append(f" Call 415-555-0${id % 100}%03d now.")
      if (id % 11 == 0) sb.append(s" Server 10.0.${id % 256}.42 responded.")
      sb.toString
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = scrub(spark, sf).collect()
    assert(out.length == docs.size)
    val pats = Seq(EmailPattern.r, PhonePattern.r, Ipv4Pattern.r)
    out.foreach { r =>
      val id = r.getLong(0)
      val t = aug(id, docs(id))
      val counts = pats.map(_.findAllIn(t).size)
      assert(Seq(r.getInt(1), r.getInt(2), r.getInt(3)) == counts,
        s"doc $id redaction counts diverge")
      val scrubbed = t.replaceAll(EmailPattern, "<EMAIL>")
        .replaceAll(PhonePattern, "<PHONE>").replaceAll(Ipv4Pattern, "<IP>")
      assert(r.getString(4) == md5hex(scrubbed), s"doc $id scrubbed md5 diverges")
      pats.foreach(p => assert(p.findFirstIn(scrubbed).isEmpty,
        s"doc $id: residual PII survives the scrub"))
    }
    // the construction must exercise every kind (and the no-PII case)
    assert(out.exists(_.getInt(1) > 0) && out.exists(_.getInt(2) > 0) &&
      out.exists(_.getInt(3) > 0))
    assert(out.exists(r => r.getInt(1) == 0 && r.getInt(2) == 0 && r.getInt(3) == 0))
  }

  /** text_bpe_tokens parity against an INDEPENDENTLY-CODED in-memory
    * BPE: vocab counting, 12 merge rounds and per-word application are
    * re-derived here in plain Scala collections (no shared helpers
    * except the merge-training entry point under test is NOT reused —
    * training is re-implemented below), and the per-doc token counts
    * must match the operator exactly. Also asserts the merges actually
    * compound (some merged token spans 3+ characters) — the property
    * that separates BPE from a one-shot pair ranking. */
  test("text_bpe_tokens: parity with an independent in-memory BPE") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // independent vocab + training (list-of-token-lists, no brackets)
    val wordCounts = docs.flatMap(_._2.split(" ", -1))
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
    val vocab = wordCounts.sortBy { case (w, c) => (-c, w) }.take(300)
    var vtoks: Seq[(List[String], Long)] =
      vocab.map { case (w, c) => (w.map(_.toString).toList, c) }
    var merges = List.empty[(String, String)]
    for (_ <- 1 to 12) {
      val pairCounts = vtoks.flatMap { case (ts, c) =>
        ts.zip(ts.drop(1)).map(p => (p, c))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      if (pairCounts.nonEmpty) {
        val ((a, b), _) = pairCounts
          .minBy { case ((x, y), n) => (-n, s"<$x><$y>") }
        merges = merges :+ ((a, b))
        def apply1(ts: List[String]): List[String] = ts match {
          case x :: y :: rest if x == a && y == b => (a + b) :: apply1(rest)
          case x :: rest => x :: apply1(rest)
          case Nil => Nil
        }
        vtoks = vtoks.map { case (ts, c) => (apply1(ts), c) }
      }
    }
    assert(merges.size == 12)
    assert(merges.exists { case (a, b) => (a + b).length >= 3 },
      "no compounding merge — this is not BPE")
    // independent application: memoized word -> token count
    val memo = scala.collection.mutable.Map.empty[String, Long]
    def tokCount(w: String): Long = memo.getOrElseUpdate(w, {
      var ts = w.map(_.toString).toList
      for ((a, b) <- merges) {
        def apply1(l: List[String]): List[String] = l match {
          case x :: y :: rest if x == a && y == b => (a + b) :: apply1(rest)
          case x :: rest => x :: apply1(rest)
          case Nil => Nil
        }
        ts = apply1(ts)
      }
      if (w.isEmpty) 1L else ts.length.toLong // '' renders as the single token '<>'
    })
    val expected = docs.map { case (id, text) =>
      val ws = text.split(" ", -1)
      id -> ((ws.length, ws.map(_.length.toLong).sum, ws.map(tokCount).sum))
    }.toMap
    val out = graft.operators.TextAnalysis.bpeTokens(spark, sf).collect()
    assert(out.length == docs.length)
    out.foreach { r =>
      val (nWs, nChars, nBpe) = expected(r.getLong(0))
      assert(r.getInt(1) == nWs && r.getLong(2) == nChars && r.getLong(3) == nBpe,
        s"doc ${r.getLong(0)}: got (${r.getInt(1)}, ${r.getLong(2)}, ${r.getLong(3)}), " +
          s"want ($nWs, $nChars, $nBpe)")
      assert(r.getLong(3) < r.getLong(2) || r.getLong(2) <= 1,
        "BPE must compress below character count")
    }
  }

  /** text_lm_score parity with an independent in-memory bigram LM:
    * corpus-wide pair/prefix counts and the exact integer quantisation
    * (10⁹·c_pair DIV c_prefix) re-derived in plain Scala. */
  test("text_lm_score: parity with an independent in-memory bigram LM") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val allBi: Seq[(Long, (String, String))] = docs.toSeq.flatMap { case (id, t) =>
      val ws = t.split(" ", -1)
      if (ws.length < 2) Seq.empty[(Long, (String, String))]
      else ws.zip(ws.tail).map(p => (id, p)).toSeq
    }
    val cp = allBi.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val cw = allBi.groupBy(_._2._1).view.mapValues(_.size.toLong).toMap
    val expected = allBi.groupBy(_._1).view.mapValues { bs =>
      val qs = bs.map { case (_, p) => 1000000000L * cp(p) / cw(p._1) }
      (bs.size, qs.sum)
    }.toMap
    val out = graft.operators.TextAnalysis.lmScore(spark, sf).collect()
    assert(out.length == expected.size)
    out.foreach { r =>
      val (n, qSum) = expected(r.getLong(0))
      assert(r.getInt(1) == n && r.getLong(2) == qSum,
        s"doc ${r.getLong(0)}: got (${r.getInt(1)}, ${r.getLong(2)}), want ($n, $qSum)")
      assert(r.getDouble(3) == qSum.toDouble / n / 1e9)
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0,
        "mean conditional probability must be in (0, 1]")
    }
  }

  test("repetition ratio is in [0,1) and counts are consistent") {
    val rows = Curation.repetition(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nb, nd, ratio) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nd >= 1 && nd <= nb)
      assert(ratio >= 0.0 && ratio < 1.0)
      assert(math.abs(ratio - (nb - nd).toDouble / nb) == 0.0)
    }
  }

  test("quality gate: pass iff reasons == 0, and the mask only uses defined bits") {
    val rows = Curation.qualityGate(spark, sf).collect()
    assert(rows.length ==
      Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val (reasons, pass) = (r.getInt(1), r.getBoolean(2))
      assert(pass == (reasons == 0))
      assert((reasons & ~15) == 0, s"undefined reason bit in $reasons")
    }
  }

  test("embed_kmeans: full coverage, k clusters, Lloyd monotonicity") {
    val total = Tables.embeddings(spark, sf).count()
    val rows = graft.operators.Similarity.kmeans(spark, sf).collect()
    assert(rows.length == 8, "k never shrinks (empty clusters keep centroids)")
    assert(rows.map(_.getLong(1)).sum == total, "every vector assigned once")
    // Lloyd monotonicity: refined centroids must not increase total
    // inertia vs the seed assignment (quantisation noise is ~1e-7 per
    // element — far below any real decrease)
    val seedInertia = graft.operators.Similarity.kmeans(spark, sf, iters = 0)
      .collect().map(_.getDouble(2)).sum
    val refined = rows.map(_.getDouble(2)).sum
    assert(refined <= seedInertia + 1e-3,
      s"Lloyd iterations increased inertia: $refined > $seedInertia")
    assert(refined < seedInertia, "refinement should strictly improve on random seeds")
  }

  test("corpus_domain_cap: exact per-source caps + map-side group limit in plan") {
    val cap = 10
    val rows = graft.operators.Corpus.domainCap(spark, sf, cap).collect()
    val sizes = Tables.documents(spark, sf)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = rows.groupBy(_.getString(0))
    assert(kept.keySet == sizes.keySet, "every source must survive capping")
    for ((src, rs) <- kept) {
      assert(rs.length == math.min(cap.toLong, sizes(src)).toInt, s"$src cap wrong")
      // ranks contiguous from 1, n_chars non-increasing along rank
      assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length))
      val byRank = rs.sortBy(_.getInt(3)).map(_.getLong(2))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"$src not ranked by n_chars desc")
    }
    // the kept set per source IS the exact top-cap by (n_chars desc, doc_id)
    val all = Tables.documents(spark, sf)
      .select("source", "doc_id", "n_chars").collect()
      .groupBy(_.getString(0))
    for ((src, rs) <- kept) {
      val expect = all(src).sortBy(r => (-r.getLong(2), r.getLong(1)))
        .take(cap).map(_.getLong(1)).toSet
      assert(rs.map(_.getLong(1)).toSet == expect, s"$src kept wrong docs")
    }
    // scale shape: Catalyst must have inferred the per-group limit so
    // hot domains are pruned map-side BEFORE the shuffle
    val plan = graft.operators.Corpus.domainCap(spark, sf, cap)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "rank-filter must compile to WindowGroupLimit (map-side top-k), " +
        "not a full-window shuffle")
  }

  test("embed_pca: power-iteration parity + projection invariants") {
    // in-memory parity: on a matrix with a known dominant eigenvector,
    // the shared power-iteration kernel must converge to it
    val c = Array(
      Array(4.0, 1.0, 0.0),
      Array(1.0, 3.0, 0.0),
      Array(0.0, 0.0, 1.0))
    val v = graft.operators.Similarity.pcaPowerIter(c, 50)
    // dominant eigenvector of the 2x2 block [[4,1],[1,3]] is
    // [1, (sqrt(5)-1)/2] (max-|w| normalised), third coord 0
    val expect = Array(1.0, (math.sqrt(5.0) - 1.0) / 2.0, 0.0)
    v.zip(expect).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"eigenvector drift: $a vs $b") }
    // pcaRayleigh is UNNORMALISED vᵀCv over the max-norm iterate, i.e.
    // λ·(vᵀv) — the same quantity the oracle replays, not λ itself
    val lam = graft.operators.Similarity.pcaRayleigh(c, v)
    val lam1 = (7.0 + math.sqrt(5.0)) / 2.0
    val vNorm2 = expect.map(x => x * x).sum
    assert(math.abs(lam - lam1 * vNorm2) < 1e-6,
      s"Rayleigh drift: $lam vs ${lam1 * vNorm2}")

    // corpus invariants: every vector projected once; centred data ⇒
    // projections mean ~0; the dominant component captures at least as
    // much variance as the deflated second
    val total = Tables.embeddings(spark, sf).count()
    val rows = graft.operators.Similarity.pca(spark, sf).collect()
    assert(rows.length == total, "every vector projected exactly once")
    val p1 = rows.map(_.getDouble(1)); val p2 = rows.map(_.getDouble(2))
    def meanOf(a: Array[Double]) = a.sum / a.length
    def varOf(a: Array[Double]) = { val m = meanOf(a); a.map(x => (x - m) * (x - m)).sum / a.length }
    assert(math.abs(meanOf(p1)) < 1e-3 && math.abs(meanOf(p2)) < 1e-3,
      "projections of centred data must be ~zero-mean")
    assert(varOf(p1) >= varOf(p2) - 1e-9,
      s"component order violated: var(p1)=${varOf(p1)} < var(p2)=${varOf(p2)}")
  }

  test("embed_drift: in-memory decimal-fold replay; version populations exact") {
    val got = Similarity.embedDrift(spark, sf).collect()
    val vecs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def stats(keep: Long => Boolean): Map[Int, (Long, Double, Double)] = {
      val kept = vecs.filter(v => keep(v._1))
      val dims = kept.head._2.indices
      dims.map { i =>
        val xs = kept.map(_._2(i).toDouble)
        // the davg9 rule: exact integer sum of floor(x*1e9), two
        // double divisions at the end
        def d9(vals: Array[Double]) =
          vals.map(x => BigInt(math.floor(x * 1e9).toLong)).sum.toDouble / 1e9 / vals.length
        i -> ((xs.length.toLong, d9(xs), d9(xs.map(x => x * x))))
      }.toMap
    }
    val o = stats(_ % 11 != 0)
    val n = stats(_ % 17 != 3)
    got.foreach { r =>
      val dim = r.getLong(0).toInt
      assert(r.getLong(1) == o(dim)._1 && r.getLong(2) == n(dim)._1,
        s"dim $dim population diverged")
      assert(r.getDouble(3) == o(dim)._2 && r.getDouble(4) == n(dim)._2,
        s"dim $dim davg9 mean diverged")
      assert(r.getDouble(5) == n(dim)._2 - o(dim)._2, s"dim $dim shift diverged")
      assert(r.getDouble(6) == n(dim)._3 - o(dim)._3, s"dim $dim msq shift diverged")
    }
    assert(got.length == vecs.head._2.length, "one row per dimension")
  }

  test("ann_knn_graph: in-memory mutual-kNN parity; cartesian path identical") {
    val k = 4
    val got = Similarity.knnGraph(spark, sf, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // independent in-memory replay with the SAME sequential fold order
    val vecs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    val n2 = vecs.map { case (id, v) => id -> dot(v, v) }
    def cos(a: Long, b: Long): Double =
      dot(vecs(a), vecs(b)) / math.sqrt(n2(a) * n2(b))
    val topk: Map[Long, Set[Long]] = vecs.keys.map { src =>
      src -> vecs.keys.filter(_ != src).toSeq
        .sortBy(dst => (-cos(src, dst), dst)).take(k).toSet
    }.toMap
    val expect = (for {
      a <- vecs.keys; b <- topk(a)
      if a < b && topk(b).contains(a)
    } yield (a, b, cos(a, b))).toSet
    assert(got.toSet == expect, "mutual edge set (with bit-exact cosines) diverged")
    assert(got.sortBy(e => (e._1, e._2)).toSeq == got.toSeq, "output unsorted")
    // Plan-shape assertions under the audit passthrough: the r13 pin
    // moves the pair stage to construction (the action plan reads a
    // checkpointed RDD), so the full pipeline is only visible with
    // checkpoints disabled — the PlanAudit mechanism.
    val prop = "graft.audit.noCheckpoint"
    System.setProperty(prop, "true")
    try {
      // the pair stream must collapse through the bounded top-k
      // aggregate, never a window over n² rows
      val plan = Similarity.knnGraph(spark, sf, k).queryExecution.executedPlan.toString
      assert(plan.toLowerCase.replace("_", "").contains("collecttopk"),
        s"expected CollectTopK aggregate:\n$plan")
      assert(!plan.contains("Window"), "n2-pair window crept back in")
      // past the broadcast cap the pair generation degrades to a
      // partition-pairwise cartesian — same rows, memory-safe
      val viaCartesian = Similarity.knnGraph(spark, sf, k, capOverride = 1L)
      assert(viaCartesian.queryExecution.executedPlan.toString.contains("Cartesian"),
        "cap override did not engage the cartesian path")
      val got2 = viaCartesian.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got2.toSet == expect, "cartesian path diverged from broadcast path")
    } finally System.clearProperty(prop)
  }

  test("sample_hard_negatives: in-memory mining replay; margins name real violations") {
    val k = 5
    val got = Similarity.hardNegatives(spark, sf, k).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), r.getDouble(5)))
    val rows = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val vecs = rows.map(r => r._1 -> r._3).toMap
    val labels = rows.map(r => r._1 -> r._2).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    val n2 = vecs.map { case (id, v) => id -> dot(v, v) }
    def cos(a: Long, b: Long): Double =
      dot(vecs(a), vecs(b)) / math.sqrt(n2(a) * n2(b))
    val expect = vecs.keys.filter(_ < 8).toSeq.sorted.flatMap { q =>
      val others = vecs.keys.filter(_ != q).toSeq
      val posMax = others.filter(labels(_) == labels(q))
        .map(cos(q, _)).maxOption
      posMax.toSeq.flatMap { pm =>
        others.filter(labels(_) != labels(q))
          .sortBy(v => (-cos(q, v), v)).take(k).zipWithIndex
          .map { case (v, i) =>
            (q, i + 1, v, labels(v), cos(q, v), cos(q, v) - pm) }
      }
    }
    assert(got.toSeq == expect, "mining replay diverged")
    // a useful miner must surface both violated and satisfied margins
    // across the query set — all-one-sign means the construction is
    // degenerate for curriculum purposes (soft check: at least the
    // margins must not all be identical)
    assert(got.map(_._6).distinct.length > 1, "degenerate margins")
  }

  test("ann_pq_rerank: equals exact re-ranking of ADC candidates, recall >= plain PQ") {
    val rr = Similarity.pqRerank(spark, sf).collect()
    assert(rr.length == 10)
    val cos = rr.map(_.getDouble(1))
    assert(cos.toSeq == cos.sortBy(-_).toSeq, "re-ranked output must descend by cosine")
    // independent replay: exact top-10 within the ADC top-c shortlist
    // (RerankC, the shared constant — hardcoding its value here is how
    // the r9 probe/rerank widening silently broke this spec)
    val cand = Similarity.pq(spark, sf, k = Similarity.RerankC)
      .collect().map(_.getLong(0)).toSet
    val exactAll = Similarity.bruteForce(spark, sf, queryId = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // bruteForce returns only top-10; recompute full ranking for replay
    val full = Similarity.pqRerank(spark, sf, k = 500, c = 500).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap // k=c=500 ⇒ all vectors scored
    val expect = cand.toSeq.map(id => id -> full(id))
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
    assert(rr.map(_.getLong(0)).toSeq == expect,
      "re-rank must be the exact cosine order of the ADC candidate set")
    // recall@10 of the re-ranked answer is >= plain PQ's
    val exact10 = exactAll.keySet
    val pq10 = Similarity.pq(spark, sf).collect().map(_.getLong(0)).toSet
    val rr10 = rr.map(_.getLong(0)).toSet
    assert(rr10.intersect(exact10).size >= pq10.intersect(exact10).size,
      "re-ranking must not lose recall vs plain ADC")
  }

  test("ann_ivfpq_rerank: candidates stay within ivfpq's probed cells, exact order") {
    val rr = Similarity.ivfpqRerank(spark, sf).collect()
    assert(rr.length == 10)
    val cos = rr.map(_.getDouble(1))
    assert(cos.toSeq == cos.sortBy(-_).toSeq)
    // every result must come from the ADC candidate set (cell-bounded,
    // RerankC deep — the shared constant, not a hardcoded depth)
    val cand = Similarity.ivfpq(spark, sf, k = Similarity.RerankC)
      .collect().map(_.getLong(0)).toSet
    assert(rr.map(_.getLong(0)).forall(cand),
      "re-rank must only reorder ADC candidates, never add vectors")
    // exact-within-candidates: cosine of each result matches bruteForce's
    // expression on the same ids (checked via the full rerank ranking)
    val full = Similarity.pqRerank(spark, sf, k = 500, c = 500).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expect = cand.toSeq.map(id => id -> full(id))
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
    assert(rr.map(_.getLong(0)).toSeq == expect,
      "re-rank must be the exact cosine order of the IVF-PQ candidate set")
  }

  test("ann_pq: structural invariants + better-than-random ranking") {
    val pq = Similarity.pq(spark, sf).collect()
    assert(pq.length == 10)
    val dists = pq.map(_.getDouble(1))
    assert(dists.forall(_ >= 0.0))
    assert(dists.toSeq == dists.sorted.toSeq, "ADC ranking must ascend")
    // recall floor vs the exact top-10: the refined codebook recovers
    // 3/10 on this deterministic testdata (measured at sf0.001 AND
    // sf0.01); a scrambled ADC join/ranking drops to 0-1
    val ids = pq.map(_.getLong(0)).toSet
    val hot = Similarity.bruteForce(spark, sf, queryId = 0L)
      .collect().map(_.getLong(0)).toSet
    assert(ids.intersect(hot).size >= 2,
      s"PQ recall@10 collapsed: $ids vs exact $hot")
  }

  test("etl_partition_prune: the scan prunes partitions at plan time") {
    val scan = queries.EtlQueries.partitionedScan(spark, sf)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("l_returnflag"),
      s"expected partition pruning on l_returnflag in:\n$plan")
    // only the R partition's files are read
    val scans = scan.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.selectedPartitions.partitionCount == 1,
      "filter must select exactly one of the three flag partitions")
  }

  test("corpus_diff: parity with an in-memory classification; every class populated") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val oldM = docs.filter(_._1 % 11 != 0).map { case (id, src, t) =>
      id -> ((src, if (id % 13 == 5) t.substring(0, math.max(t.length - 1, 0)) else t))
    }.toMap
    val newM = docs.filter(_._1 % 17 != 3)
      .map { case (id, src, t) => id -> ((src, t)) }.toMap
    val expected = (oldM.keySet ++ newM.keySet).toSeq.map { id =>
      val st =
        if (!oldM.contains(id)) "added"
        else if (!newM.contains(id)) "dropped"
        else if (oldM(id)._2 != newM(id)._2) "changed"
        else "unchanged"
      (oldM.get(id).orElse(newM.get(id)).get._1, st)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = graft.operators.Corpus.corpusDiff(spark, sf).collect()
    got.foreach { r =>
      val src = r.getString(0)
      assert(r.getLong(1) == expected.getOrElse((src, "added"), 0L), s"$src added")
      assert(r.getLong(2) == expected.getOrElse((src, "dropped"), 0L), s"$src dropped")
      assert(r.getLong(3) == expected.getOrElse((src, "changed"), 0L), s"$src changed")
      assert(r.getLong(4) == expected.getOrElse((src, "unchanged"), 0L), s"$src unchanged")
    }
    assert(got.map(_.getString(0)).toSet == docs.map(_._2).toSet,
      "every source must appear exactly once")
    // the simulated versions must exercise all four classes, or the
    // gate proves less than it claims
    Seq(1, 2, 3, 4).foreach(i => assert(got.map(_.getLong(i)).sum > 0,
      s"diff class column $i must be non-empty on the test corpus"))
  }

  test("stream_enrich equals the batch join-aggregate") {
    val streamed = graft.streaming.Streams.streamEnrich(spark, sf).collect()
    val batch = Tables.events(spark, sf)
      .join(Tables.customer(spark, sf),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").as("total_value"))
      .orderBy(col("c_mktsegment"), col("event_type"))
      .collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (a, b) => assert(a == b) }
  }
}
