package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.HashUtil
import graft.etl.WorkLists
import java.nio.file.{Files, Paths}

class PropertySpec extends AnyFunSuite {

  /** Run a ScalaCheck prop and assert it passed (scalatestplus bridge
    * isn't in the offline cache). */
  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
  }

  /** The load-bearing equivalence behind text_bpe_tokens' oracle: a
    * single-pass LITERAL string replace over the bracket-delimited
    * token form must equal left-to-right non-overlapping VECTOR pair
    * merging, for any merge table BPE training can produce — including
    * the adversarial self-pair overlap case (aaaa + merge (a,a)). The
    * tiny alphabet maximizes repeated-char collisions. */
  test("BPE bracket-form literal replace equals vector pair merge (property)") {
    val wordGen = Gen.chooseNum(0, 10)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val vocabGen = Gen.chooseNum(1, 12).flatMap(k => Gen.listOfN(k, wordGen))
    check(Prop.forAll(vocabGen, wordGen) { (vocab, w) =>
      val merges = graft.operators.TextAnalysis
        .trainMerges(vocab.map(v => (v, 1L)), nMerges = 6)
      // string path — exactly the operator's codegen'd replace chain
      val spaced =
        if (w.isEmpty) "<>"
        else "<" + w.toCharArray.map(_.toString).mkString("><") + ">"
      val strCount = merges
        .foldLeft(spaced) { case (s, (p, m)) => s.replace(p, m) }
        .count(_ == '<')
      // vector path — left-to-right non-overlapping merges
      var ts = w.toCharArray.map(_.toString).toVector
      merges.foreach { case (p, _) =>
        val inner = p.substring(1, p.length - 1).split("><")
        val (a, b) = (inner(0), inner(1))
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < ts.length) {
          if (i + 1 < ts.length && ts(i) == a && ts(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += ts(i); i += 1 }
        }
        ts = out.result()
      }
      val vecCount = if (w.isEmpty) 1 else ts.length
      (strCount == vecCount) :| s"w=$w merges=$merges str=$strCount vec=$vecCount"
    })
  }

  test("pagerank matches an independent in-memory power iteration") {
    import SparkTestSession._
    val li = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_suppkey").collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val edges = (li ++ li.map { case (p, s2) => (s2, p) }).toSet
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = edges.map(_._1)
    var rank = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to 5) {
      val qsum = new scala.collection.mutable.HashMap[Long, Long]()
      edges.foreach { case (src, dst) =>
        qsum(dst) = qsum.getOrElse(dst, 0L) +
          math.floor(rank(src) / deg(src) * 1e9).toLong
      }
      rank = nodes.map { n =>
        n -> math.floor(((1 - 0.85) +
          0.85 * (qsum.getOrElse(n, 0L) / 1e9)) * 1e9) / 1e9
      }.toMap
    }
    val expected = rank.toSeq.sortBy { case (n, r) => (-r, n) }.take(20)
      .map { case (n, r) =>
        (if (n % 2 == 0) "part" else "supplier", n / 2, r) }
    val got = graft.operators.GraphOps.pagerank(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
    // high-degree suppliers must dominate the top of the ranking
    assert(got.take(5).forall(_._1 == "supplier"),
      s"expected supplier-dominated head, got ${got.take(5)}")
    // BOTH backends must replay the identical quantised fixpoint —
    // the footer gate is a pure cost decision, never a result one
    val dist = graft.operators.GraphOps.pagerankDistributed(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(dist == expected, "distributed backend diverged from the replay")
  }

  test("graph_labelprop census matches an in-memory synchronous LP replay; backends agree") {
    import SparkTestSession._
    val b = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val und = b.groupBy(_._1).values.flatMap { lines =>
      val ps = lines.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val edges = und ++ und.map { case (a, c) => (c, a) }
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lab = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to 4) {
      lab = adj.map { case (v, ns) =>
        val counts = ns.groupBy(lab).view.mapValues(_.size).toMap
        // most frequent neighbor label, ties toward the smallest
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val expected = lab.values.groupBy(identity).view
      .mapValues(_.size.toLong).toSeq
      .sortBy { case (l, n) => (-n, l) }.take(20)
    def run(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = run(graft.operators.GraphOps.labelProp(spark, sf))
    assert(got == expected)
    // communities must be real: fewer labels than nodes, none trivial
    assert(got.head._2 > 1, "LP must form at least one multi-node community")
    val dist = run(graft.operators.GraphOps.labelPropDistributed(spark, sf))
    assert(dist == expected, "distributed backend diverged from the replay")
  }

  test("lpRoundsLocal equals the naive synchronous-LP replay on random graphs (property)") {
    // random multigraphs (duplicates + occasional wide ids) — the
    // kernel's packed-sort dedupe, CSR, epoch counting and online
    // argmax must agree with the obvious replay on every shape
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 25L)
      c <- Gen.chooseNum(0L, 25L).suchThat(_ != a)
      widen <- Gen.oneOf(false, false, false, true)
      flip <- Gen.oneOf(false, true) // both orientations of one edge
    } yield {
      val (lo, hi) = if (a < c) (a, c) else (c, a)
      val (x, y) = if (widen) (lo + (1L << 40), hi + (1L << 40)) else (lo, hi)
      if (flip) (y, x) else (x, y)
    }
    val graphGen = Gen.chooseNum(1, 120).flatMap(n => Gen.listOfN(n, edgeGen))
    check(Prop.forAll(graphGen) { pairs =>
      val got = graft.operators.GraphOps.lpRoundsLocal(pairs.iterator)
        .toSeq.sortBy(_._1)
      val und = pairs.toSet
      val edges = und.flatMap((p: (Long, Long)) => Set(p, p.swap))
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var lab = adj.keys.map(v => v -> v).toMap
      for (_ <- 1 to 4) {
        lab = adj.map { case (v, ns) =>
          val counts = ns.groupBy(lab).view.mapValues(_.size).toMap
          v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
      val expected = lab.toSeq.sortBy(_._1)
      (got == expected) :| s"pairs=$pairs got=$got expected=$expected"
    })
  }

  test("lpRoundsLocal: wide-id fallback and duplicate edges match a naive replay") {
    // ids beyond 2^32 take the boxed dedupe path no gated corpus
    // reaches; duplicates must die whichever path they ride
    val W = 1L << 40
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (W + 1, W + 2), (2L, W + 1),
      (4L, 5L))
    // duplicates, including BOTH orientations of existing edges — the
    // kernel must normalize before dedupe, not rely on a<c input
    val pairs = und ++ und ++ Seq((1L, 2L), (2L, 1L), (W + 2, W + 1))
    val got = graft.operators.GraphOps.lpRoundsLocal(pairs.iterator)
      .toSeq.sortBy(_._1)
    val edges = und.toSet.flatMap((p: (Long, Long)) => Set(p, p.swap))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lab = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to 4) {
      lab = adj.map { case (v, ns) =>
        val counts = ns.groupBy(lab).view.mapValues(_.size).toMap
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    assert(got == lab.toSeq.sortBy(_._1))
  }

  test("graph_triangles matches an id-ordered in-memory enumeration") {
    import SparkTestSession._
    // the Spark side enumerates via DEGREE orientation; the replay uses
    // plain id order — the triangle set is orientation-invariant, so
    // agreement here proves the oriented enumeration is exactly-once
    val b = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val edges = b.groupBy(_._1).values.flatMap { lines =>
      val ps = lines.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    val triNodes = adj.toSeq.flatMap { case (u, vs) =>
      for {
        i <- vs.indices; j <- i + 1 until vs.length
        if edges.contains((vs(i), vs(j)))
      } yield Seq(u, vs(i), vs(j))
    }.flatten
    val expected = triNodes.groupBy(identity).view
      .mapValues(_.size.toLong).toSeq
      .sortBy { case (p, n) => (-n, p) }.take(20)
    val got = graft.operators.GraphOps.triangles(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    assert(got.head._2 >= got.last._2 && got.forall(_._2 > 0))
  }

  test("graph_jaccard matches an in-memory neighbor-set replay") {
    import SparkTestSession._
    val b = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val edges = b.groupBy(_._1).values.flatMap { lines =>
      val ps = lines.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val nb = (edges.toSeq ++ edges.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = edges.toSeq.map { case (a, c) =>
      val common = (nb(a) intersect nb(c)).size.toLong
      val ppm = if (common > 0)
        1000000L * common / (nb(a).size + nb(c).size - common) else -1L
      (a, c, common, ppm)
    }.filter(_._3 > 0)
      .sortBy { case (a, c, _, ppm) => (-ppm, a, c) }.take(20)
    val got = graft.operators.GraphOps.jaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // clique pairs must dominate: top similarity well above zero
    assert(got.head._4 > 100000, s"degenerate top similarity: ${got.head}")
  }

  test("graph_jaccard degree cap: cap >= max degree is a no-op; a tight cap truncates hubs") {
    import SparkTestSession._
    val exact = graft.operators.GraphOps.jaccard(spark, sf).collect().map(_.toSeq).toSeq
    // the past-gate path with the production cap (far above any gated-SF
    // degree) must reproduce the exact full-set results bit-for-bit
    val cappedHigh = graft.operators.GraphOps
      .jaccard(spark, sf, forceCap = Some(graft.operators.GraphOps.JaccardDegreeCap))
      .collect().map(_.toSeq).toSeq
    assert(cappedHigh == exact,
      "cap above max degree must not change any jaccard row")
    // a deliberately tiny cap must actually fire: neighbor sets shrink,
    // so SOME reported denominator (degsum - common implied by ppm)
    // differs from the exact run — proving the truncation path executes
    val cappedTight = graft.operators.GraphOps
      .jaccard(spark, sf, forceCap = Some(2)).collect().map(_.toSeq).toSeq
    assert(cappedTight != exact,
      "a cap of 2 must truncate hub neighborhoods and move the top-20")
  }

  test("graph_components census equals union-find truth") {
    import SparkTestSession._
    // the Spark side runs GraphX Pregel min-label to convergence
    // (r10 — no round budget exists); agreement with run-to-completion
    // union-find pins the census exactly
    val strong = Tables.lineitem(spark, sf)
      .filter("l_quantity >= 50 AND l_returnflag = 'R'")
      .select("l_partkey", "l_suppkey").collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1)).distinct
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    strong.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = strong.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodes.groupBy(find).toSeq
      .map { case (root, ns) =>
        (if (root % 2 == 0) "part" else "supplier", root / 2,
          ns.length.toLong, ns.count(_ % 2 == 0).toLong,
          ns.count(_ % 2 == 1).toLong, root)
      }
      .sortBy { case (_, _, n, _, _, root) => (-n, root) }.take(20)
      .map { case (kind, key, n, np, nsup, _) => (kind, key, n, np, nsup) }
    val got = graft.operators.GraphOps.components(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected)
    // bipartite invariant: every component has both sides represented
    assert(got.forall(c => c._3 == c._4 + c._5 && c._4 > 0 && c._5 > 0))
  }

  test("fnv1a64 is deterministic and sensitive to any byte change") {
    check(Prop.forAll(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)),
      Gen.choose(0, 1000)) { (bytes: List[Byte], at: Int) =>
      val arr = bytes.toArray
      assert(HashUtil.fnv1a64(arr) == HashUtil.fnv1a64(arr.clone()))
      if (arr.nonEmpty) {
        val i = at % arr.length
        val mutated = arr.clone()
        mutated(i) = (mutated(i) ^ 0x1).toByte
        assert(HashUtil.fnv1a64(mutated) != HashUtil.fnv1a64(arr))
      }
      true
    })
  }

  test("simhash of identical token multisets is identical; hamming bounded by token edits") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def sh(tokens: Seq[String]): Long =
      HashUtil.simhash64(new GenericArrayData(
        tokens.map(t => UTF8String.fromString(t)).toArray[Any]))
    val token = Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(8))
    check(Prop.forAll(Gen.listOfN(40, token)) { tokens =>
      assert(sh(tokens) == sh(tokens))
      // single-token replacement: each bit flips only if the vote for
      // that bit position crosses zero — typically few bits
      val mutated = tokens.updated(0, tokens.head + "_x")
      val ham = java.lang.Long.bitCount(sh(tokens) ^ sh(mutated))
      ham <= 64
    })
  }

  test("worklists: any completion order drains exactly the todo set") {
    val items = Gen.listOfN(9, Gen.identifier.map(_.take(6))).map(_.distinct)
    check(Prop.forAll(items, Gen.choose(1, 5)) { (its: List[String], batchSize: Int) =>
      (its.nonEmpty) ==> {
        val d = SparkTestSession.tempDir("wlprop").toString
        Files.write(Paths.get(d, "todo"), its.mkString("\n").getBytes)
        val wl = new WorkLists(d, batchSize)
        var done = Vector.empty[String]
        var batch = wl.nextBatch()
        while (batch.nonEmpty) {
          // complete in reverse order within the batch
          batch.reverse.foreach { it => wl.markCompleted(it); done :+= it }
          batch = wl.nextBatch()
        }
        assert(done.sorted == its.sorted.toVector)
        val completedFile = Files.readString(Paths.get(d, "completed"))
          .linesIterator.toVector
        completedFile.sorted == its.sorted.toVector
      }
    })
  }

  test("TypeMapping date->varchar matches ISO format for arbitrary epoch days") {
    import SparkTestSession._
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val days = Gen.choose(-10000, 20000)
    check(Prop.forAll(Gen.listOfN(20, days)) { ds =>
      (ds.nonEmpty) ==> {
        val df = ds.toDF("d").select(date_add(lit("1970-01-01").cast("date"), col("d")).as("dt"))
        val out = graft.etl.TypeMapping.castTo(df, Map("dt" -> "varchar")).collect()
        val exp = df.collect()
        out.zip(exp).forall { case (o, e) =>
          o.getString(0) == e.getDate(0).toLocalDate.toString
        }
      }
    })
  }

  test("gram stream: past-gate hash-only fallback rows equal the shared stream's projection") {
    import SparkTestSession._
    // the share gate never fires at gated SFs, so the fallback path is
    // pinned here directly: identical (doc_id, i, h) rows prove a
    // corpus crossing GramShareMaxDocs changes memory policy, not
    // results
    val shared = graft.operators.TextAnalysis
      .gramStreamForSpec(spark, sf, 5, withPhrase = true)
      .select("doc_id", "i", "h").collect().map(_.toSeq).toSet
    val fallback = graft.operators.TextAnalysis
      .gramStreamForSpec(spark, sf, 5, withPhrase = false)
      .collect().map(_.toSeq).toSet
    assert(shared == fallback && shared.nonEmpty)
  }

  /** sorted_intersect / sorted_intersect_count must equal
    * array_intersect semantics on the sorted-distinct inputs the
    * adjacency idiom produces — the merge walk replacing the per-row
    * hashset in graph_triangles / graph_jaccard (r10). */
  test("sorted_intersect equals set intersection on sorted distinct arrays (property)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val arr = Gen.chooseNum(0, 30).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-50L, 50L)).map(_.distinct.sorted))
    check(Prop.forAll(arr, arr) { (a, b) =>
      val ad = new GenericArrayData(a.toArray)
      val bd = new GenericArrayData(b.toArray)
      val expect = a.toSet.intersect(b.toSet).toArray.sorted
      val got = graft.functions.SortedArrayUtil.intersectLL(ad, bd).toLongArray()
      val gotN = graft.functions.SortedArrayUtil.intersectCountLL(ad, bd)
      got.sameElements(expect) && gotN == expect.length
    })
  }
}
