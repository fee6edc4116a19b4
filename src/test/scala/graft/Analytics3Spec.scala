package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic tests for the third analytics wave + cluster/stream dedup. */
class Analytics3Spec extends AnyFunSuite {
  import SparkTestSession._

  test("q28 intersect and q29 except partition the 1996 buyers") {
    val both = queries.Analytics3.q28(spark, sf).collect().map(_.getLong(0)).toSet
    val only96 = queries.Analytics3.q29(spark, sf).collect().map(_.getLong(0)).toSet
    assert(both.intersect(only96).isEmpty)
    val all96 = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === 1996)
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    assert(both.union(only96) == all96)
  }

  test("q31 ntile buckets differ by at most one and are ordered") {
    val rows = queries.Analytics3.q31(spark, sf).collect()
    assert(rows.length == 4)
    val ns = rows.map(_.getAs[Long]("n_cust"))
    assert(ns.max - ns.min <= 1)
    val bounds = rows.sortBy(_.getAs[Int]("quartile"))
      .flatMap(r => Seq(r.getAs[Double]("lo"), r.getAs[Double]("hi")))
    assert(bounds.sameElements(bounds.sorted), "quartile ranges must be ordered")
  }

  test("q32 histogram buckets cover every order exactly once") {
    val rows = queries.Analytics3.q32(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == Tables.orders(spark, sf).count())
  }

  test("q33 grouping sets: grand total equals sum of per-status rows") {
    val rows = queries.Analytics3.q33(spark, sf).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1)).head
    val perStatus = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    assert(perStatus.map(_.getAs[Long]("n")).sum == grand.getAs[Long]("n"))
  }

  test("q34 json buckets cover every event") {
    val rows = queries.Analytics3.q34(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == Tables.events(spark, sf).count())
  }

  test("q35 quantile buckets cover all orders; bounds are ordered") {
    val rows = queries.Analytics3.q35(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == Tables.orders(spark, sf).count())
    val bounds = rows.sortBy(_.getAs[Int]("bucket"))
      .flatMap(r => Seq(r.getAs[Double]("lo"), r.getAs[Double]("hi")))
    assert(bounds.sameElements(bounds.sorted))
  }

  test("pipeline_corpus: counts bounded by the deduped corpus") {
    val stats = queries.Analytics3.pipelineCorpus(spark, sf).collect()
    val nDocs = stats.map(_.getAs[Long]("n_docs")).sum
    val survivors = operators.Dedup.exact(spark, sf).count()
    assert(nDocs > 0 && nDocs <= survivors)
    assert(stats.forall(r =>
      r.getAs[Long]("total_tokens") >= 30 * r.getAs[Long]("n_docs")))
  }

  test("dedup_clusters: labels are consistent with the near-dup edges") {
    val labels = operators.Dedup.clusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == Tables.documents(spark, sf).count())
    // every doc labelled by a component member ≤ itself
    assert(labels.forall { case (doc, c) => c <= doc })
    // endpoints of every threshold edge share a label (1-hop consistency;
    // transitive chains are covered by the sf0.01 oracle compare)
    val edges = operators.Dedup.ngramJaccard(spark, sf)
      .filter(col("jaccard") >= 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    edges.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"edge ($a,$b) split across clusters")
    }
  }

  test("q37 gap fill produces a dense day spine with zero rows for gaps") {
    val rows = queries.Analytics3.q37(spark, sf).collect()
    val days = rows.map(_.getAs[java.sql.Date]("day").toLocalDate)
    // dense: every day between min and max present exactly once
    assert(days.length ==
      java.time.temporal.ChronoUnit.DAYS.between(days.head, days.last) + 1)
    assert(days.distinct.length == days.length)
    // total events preserved (fill adds only zero rows)
    assert(rows.map(_.getAs[Long]("n")).sum == Tables.events(spark, sf).count())
  }

  test("prefix-filtered similarity join equals the all-pairs result") {
    for (t <- Seq(0.3, 0.5, 0.7)) {
      val brute = operators.Dedup.ngramJaccard(spark, sf)
        .filter(col("jaccard") >= t) // top-20 window of the all-pairs join
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rows = operators.Dedup.jaccardPairsAbove(spark, sf, t)
        .select("doc_a", "doc_b", "jaccard").collect()
      val all = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      // every bruteforce pair above t must be found by the threshold join
      assert(brute.subsetOf(all), s"t=$t missing=${brute -- all}")
      // and the join must not invent pairs below t
      assert(rows.forall(_.getDouble(2) >= t), s"t=$t: a pair below the threshold")
    }
  }

  test("connectedComponents matches union-find on random graphs") {
    import spark.implicits._
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n.toLong.toInt)(_.toLong)
      def find(x: Long): Long = {
        var r = x
        while (parent(r.toInt) != r) r = parent(r.toInt)
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb).toInt) = math.min(ra, rb)
      }
      // min-label per component over edge-bearing nodes only (unions
      // always keep the smaller id as root, so root = component min)
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      touched.map(t => t -> find(t)).toMap
    }
    val rnd = new scala.util.Random(7)
    val graphs = Seq(
      (1 to 40).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)), // dense-ish
      (1 to 8).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)),  // sparse
      (0L until 12L).map(i => (i, i + 1)),                                  // one long chain
      Seq((5L, 5L), (7L, 8L), (8L, 7L)))                                    // self-loop + dup
    for (edges <- graphs) {
      // default path (driver union-find under the edge-count gate)
      val got = operators.Dedup.connectedComponents(edges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(64, edges)
      assert(got == want, s"edges=$edges")
      // forced past the gate: the distributed min-label loop must
      // produce the identical fixpoint (the r13 driver-path parity)
      val dist = operators.Dedup.connectedComponents(
        edges.toDF("u", "v"), capOverride = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == want, s"distributed path diverged: edges=$edges")
    }
  }

  test("connectedComponents handles full-range 64-bit ids (no sum overflow)") {
    import spark.implicits._
    val a = Long.MaxValue - 1
    val b = Long.MaxValue - 5
    val c = Long.MinValue + 3
    val d0 = -42L
    val got = operators.Dedup.connectedComponents(
      Seq((a, b), (c, d0)).toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(a -> b, b -> b, c -> c, d0 -> c))
  }

  test("stream_interval_join equals the batch range join exactly") {
    val stream = graft.streaming.Streams.intervalJoin(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = queries.Analytics2.q25(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(stream == batch,
      s"streamOnly=${stream -- batch} batchOnly=${batch -- stream}")
    assert(stream.nonEmpty)
  }

  test("sessionize merges sessions split across micro-batches") {
    import org.apache.spark.sql.functions.unix_micros
    val dir = tempDir("sess_split").toString
    val sub = s"$dir/events.parquet"
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(expr("percentile(CAST(unix_micros(ts) AS DOUBLE), 0.5)"))
      .head().getDouble(0).toLong
    // two files split ON TIME, landed a second apart so the file source
    // processes them oldest-first as two separate micro-batches
    ev.filter(unix_micros(col("ts")) <= mid)
      .coalesce(1).write.parquet(sub)
    Thread.sleep(1100)
    ev.filter(unix_micros(col("ts")) > mid)
      .coalesce(1).write.mode("append").parquet(sub)
    val split = graft.streaming.Streams
      .sessionizeTable(spark, dir, maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq).toSeq
    val whole = graft.streaming.Streams.sessionizeTable(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(split == whole,
      s"cross-batch sessions diverge: split=${split.size} whole=${whole.size}")
  }

  test("stream_anomaly: flags survive a time-split two-batch replay") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_anom_split").toString
    val sub = s"$dir/events.parquet"
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(expr("percentile(CAST(unix_micros(ts) AS DOUBLE), 0.5)"))
      .head().getDouble(0).toLong
    ev.filter(unix_micros(col("ts")) <= mid).coalesce(1).write.parquet(sub)
    Thread.sleep(1100)
    ev.filter(unix_micros(col("ts")) > mid)
      .coalesce(1).write.mode("append").parquet(sub)
    val split = graft.streaming.Streams
      .streamAnomaly(spark, dir, maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq).toSeq
    val whole = graft.streaming.Streams.streamAnomaly(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(split == whole,
      s"cross-batch anomaly flags diverge: split=${split.size} whole=${whole.size}")
    // running stats must actually flag something and spare something,
    // or the z-test proves nothing
    val flags = whole.map(_.apply(4).asInstanceOf[Boolean])
    assert(flags.contains(true) && flags.contains(false),
      "degenerate flag distribution")
  }

  test("stream_versioned_sink: two-batch commits stay AS-OF-readable; crash-retry exact") {
    import org.apache.spark.sql.functions._
    val S = graft.streaming.Streams
    val dir = tempDir("graft_vsink_split").toString
    val store = tempDir("graft_vsink_store").toString
    val sub = s"$dir/events.parquet"
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(expr("percentile(CAST(unix_micros(ts) AS DOUBLE), 0.5)"))
      .head().getDouble(0).toLong
    ev.filter(unix_micros(col("ts")) <= mid).coalesce(1).write.parquet(sub)
    Thread.sleep(1100)
    ev.filter(unix_micros(col("ts")) > mid)
      .coalesce(1).write.mode("append").parquet(sub)
    def audit() = S.versionedSink(spark, dir,
      maxFilesPerTrigger = Some(1), storeDir = Some(store)).collect()(0)
    val first = audit()
    assert(S.latestVersion(store) == 2, "two files must land as two commits")
    assert(first.getLong(0) == ev.count())
    // MVCC: v1 still reads back as exactly the first half
    val firstHalf = ev.filter(unix_micros(col("ts")) <= mid)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    val v1 = S.versionedSnapshot(spark, store, 1)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    assert(v1 == firstHalf, "AS OF v1 drifted after the second commit")
    // exactly-once: a full re-run commits nothing new and changes nothing
    assert(audit() == first && S.latestVersion(store) == 2,
      "re-run duplicated commits")
    // out-of-band manifest loss (bad vacuum / manual delete): the
    // checkpoint says batch 1 committed, so a resumed run would NEVER
    // replay it — the sink must detect the divergence loudly instead
    // of serving a silently older snapshot (r11; the pre-checkpoint
    // sink silently re-committed, which also meant a re-run with
    // different batching could double-count)
    assert(new java.io.File(s"$store/manifests/v2.txt").delete())
    val ex = intercept[IllegalArgumentException](audit())
    assert(ex.getMessage.contains("lost manifests"))
    // documented recovery: wipe the checkpoint, replay from source —
    // v1 presence-skips, v2 re-commits, audit reproduces bit-for-bit
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(s"$store/_checkpoint"))
    assert(audit() == first && S.latestVersion(store) == 2,
      "checkpoint-wipe replay diverged")
  }

  /** stream_delta_sink's structural contracts beyond the oracle gate:
    * one Delta version per stream commit, a well-formed genesis with
    * EMPTY partitionColumns (the sink table is unpartitioned),
    * append-only actions (the sink never rewrites), AS-OF dv=0 mount
    * == the v1 manifest snapshot, and byte-identical re-export. */
  test("stream_delta_sink: per-commit delta log, AS-OF mount, idempotent export") {
    import org.apache.spark.sql.functions._
    val S = graft.streaming.Streams
    val dir = tempDir("graft_vdsink_split").toString
    val store = tempDir("graft_vdsink_store").toString
    val sub = s"$dir/events.parquet"
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(expr("percentile(CAST(unix_micros(ts) AS DOUBLE), 0.5)"))
      .head().getDouble(0).toLong
    ev.filter(unix_micros(col("ts")) <= mid).coalesce(1).write.parquet(sub)
    Thread.sleep(1100)
    ev.filter(unix_micros(col("ts")) > mid)
      .coalesce(1).write.mode("append").parquet(sub)
    S.versionedSink(spark, dir, maxFilesPerTrigger = Some(1),
      storeDir = Some(store)).collect(): Unit
    assert(S.latestVersion(store) == 2)
    val schemaJson = S.versionedSnapshot(spark, store, 1L).schema.json
    assert(graft.etl.DeltaExport.exportUnpartitioned(store, schemaJson) == 2)
    val logDir = new java.io.File(s"$store/_delta_log")
    val logFiles = logDir.listFiles.filter(_.getName.endsWith(".json")).sortBy(_.getName)
    assert(logFiles.map(_.getName).toSeq ==
      Seq("00000000000000000000.json", "00000000000000000001.json"))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def lines(f: java.io.File) = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split('\n').toSeq.filter(_.nonEmpty).map(om.readTree)
    val v0 = lines(logFiles(0))
    val md = v0.find(_.has("metaData")).get.get("metaData")
    assert(md.get("partitionColumns").size == 0,
      "stream sink table must export as unpartitioned")
    assert(lines(logFiles(1)).forall(n => !n.has("remove")),
      "append-only sink must never emit removes")
    // AS-OF dv=0 through the generic reader == v1 manifest snapshot
    val m0 = graft.etl.DeltaImport.snapshot(spark, store, 0L)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    val v1 = S.versionedSnapshot(spark, store, 1)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    assert(m0 == v1, "dv=0 mount != v1 snapshot")
    val full = graft.etl.DeltaImport.snapshot(spark, store)
      .agg(count(lit(1))).collect()(0).getLong(0)
    assert(full == ev.count(), "latest mount lost or duplicated rows")
    // idempotent re-export
    val before = logFiles.map(f => new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).toSeq
    graft.etl.DeltaExport.exportUnpartitioned(store, schemaJson)
    val after = logFiles.map(f => new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).toSeq
    assert(before == after, "re-export mutated the log")
  }

  test("stream_dedup output equals batch-distinct events") {
    val got = graft.streaming.Streams.streamDedup(spark, sf)
    val n = Tables.events(spark, sf).count()
    assert(got.count() == n, "dedup must collapse the doubled stream")
    assert(got.select("event_id").distinct().count() == n)
  }
}
