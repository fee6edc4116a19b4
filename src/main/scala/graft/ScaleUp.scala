package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Larger-SF scaling measurement for the dedup-pair + ANN families
  * (SURVEY §6): amplifies the sf0.1 corpus ×R and times the heavy
  * subset at ×1 vs ×R on identical plans, turning the "fixed overhead
  * amortizes" extrapolation into a measurement one scale decade up.
  *
  * Amplification is REALISTIC growth, not naive replication:
  *  - documents: replica k > 0 prefixes every word with `r<k>_`, so
  *    replicas share no shingles — vocabulary grows with the corpus
  *    (the Zipfian property real corpora have) and per-shingle df
  *    stays at base level instead of multiplying by R, which would
  *    make exact pair work scale R² by construction and measure the
  *    amplifier, not the operator. doc_id offset 1e8 per replica.
  *  - embeddings: replica k > 0 adds a deterministic per-dimension
  *    xxhash64 perturbation (≤ 1e-3) so replica vectors are distinct
  *    but the space keeps its geometry. vec_id offset 1e8.
  *
  * Usage: `sbt "runMain graft.ScaleUp [baseDir] [outDir]"` with
  * SPARK_GRAFT_SCALE=5 (default). Writes amplified parquet under
  * target/scale_sweep (gitignored) once — reruns reuse it — and
  * prints one JSON line with per-query seconds at both scales.
  */
object ScaleUp {

  /** The queries the r6 verdict asked to scale-check: the exact-pair
    * dedup family (quadratic danger zone), its banded/capped scale
    * paths, and the ANN serving pipeline.
    *
    * dedup_clusters / dedup_corpus_near are IN since r8: their
    * past-the-caps dispatch now routes through minhash-banded
    * candidates (self-tuned rows per band) into the components pass —
    * the r7 sweep killed the old PPJoin prefix branch at 13 min on
    * this tiny-vocab corpus (every prefix shingle hot), which is
    * exactly why the banded path is the clustering scale shape. */
  private val Subset = Seq(
    "dedup_exact", "dedup_minhash", "dedup_ngram_jaccard",
    "dedup_ngram_dfcap", "dedup_substring", "dedup_simhash",
    "dedup_embedding", "dedup_clusters", "dedup_corpus_near",
    "ann_bruteforce", "ann_index_build", "ann_ivfpq_rerank",
    // r9 (verdict item 1): the batch k-NN pair — the index-served join
    // vs its brute-force twin, so the sweep measures the sub-linear
    // claim directly (same query set, same output shape)
    "ann_topk_join", "ann_index_knn_join",
    // r8 (verdict item 6): representatives beyond the dedup/ANN
    // family, so the floor-amortization claim for the ~100 sub-0.3 s
    // queries rests on a measured ratio too — a broadcast-dim shuffle
    // join+agg, the salted skew join, a window family, grouping sets,
    // an event-time as-of join, a streaming replay, the ETL cast
    // matrix, and the two corpus pipelines with driver-bounded
    // collects (prefix-sum packer, source-quota mix)
    // q11 (not q10) is the window representative: q10's only input is
    // customer, which amplification copies VERBATIM — its x1-vs-xR
    // ratio would compare identical bytes (review finding r8). q11
    // windows over orders, which the amplifier grows.
    "q3_join_agg", "q36_skew_join", "q11_running_sum", "q33_grouping_sets",
    "q24_asof_join", "stream_windowed_agg", "etl_cast",
    "pack_sequences", "corpus_mix",
    // late-r8: the cluster-consumers (semanticKFor's adaptive k only
    // engages past the gated 2000 vectors — the sweep is the first
    // place the rule actually fires) and the zero-shuffle chunker
    "dedup_semantic", "sample_cluster_balanced", "text_cdc_chunks",
    // scan-heavy late-r8 reps: the per-dim quantization audit (pure
    // two-pass scan+agg) and the FK-cascade audit. Since r9 the
    // latter's events edge is REAL at ×R: replica user_ids rotate
    // through the customer key space (see amplify), so the subject
    // drop-set over events grows with the corpus instead of staying
    // base-sized (advice r8)
    "embed_quantize", "etl_forget",
    // chunk-containment near-dup: the fp-keyed join is the dedup
    // family's chunk-granularity scale path
    "dedup_cdc",
    // r9: corpus version diff — the fp-keyed full-outer join over the
    // grown corpus (ids + 16-byte fps shuffle, never text)
    "corpus_diff",
    // late-r9: the RRF hybrid (lexical postings grow with the corpus;
    // the fused join stays ≤100 rows — the sweep checks the probe leg
    // stays scan-bound), the DSIR selector (token explode + 64-row
    // broadcast: expected ~flat), the media gate and transition
    // matrix (narrow passes), and both physical compactions (cost ∝
    // rewritten bytes — the maintenance-beats-retraining claim)
    "ann_hybrid", "sample_dsir", "mm_quality", "q54_transitions",
    "etl_compact", "ann_index_compact",
    // r9: the exact graph op — at ×R the footer gate flips the
    // adjacency broadcast to the shuffle fallback, so the sweep
    // exercises the degraded path
    "graph_triangles",
    // late-r9 second block: the sweep-line window (events grow ×R),
    // the customer-dimension quartile windows over a ×R fact scan,
    // the bulk constraint suite (2 scans + 2 key joins regardless of
    // rule count), the TTL policy sweep, bounded-round CC with jump
    // (×R lineitems densify the strong graph — saturating distinct
    // pairs, fixed 16 rounds), and the per-source datasheet
    "q55_concurrency", "q56_rfm", "etl_checks", "etl_retention",
    "graph_components", "corpus_card",
    // late-r9 third block: the bucketed co-located join (cost ∝ the
    // one-time bucketed write + the exchange-free SMJ) and the exact
    // mutual k-NN graph (×R crosses the 8192 broadcast cap, so the
    // sweep runs the pinned shuffle_replicate_nl degraded path — n²
    // pair work by definition; the measurement bounds the wall at the
    // scale where the ANN escape hatch should take over)
    "etl_bucket_join", "ann_knn_graph",
    // r9 session 2: the MVCC commit+audit (cost ∝ table for v1 + the
    // changed slice for v2), the manifest-scoped change feed (reads
    // ONLY differing partitions — the ∝-changed-slice claim measured),
    // the z-order rewrite + 2-D window (layout cost ∝ table, query ∝
    // window), the theta-sketch join estimator (per-key count shuffle
    // then 1/8-of-domain pairs), and the stateful anomaly replay
    // (state ∝ keys × open windows, stream length only in the scan)
    "etl_time_travel", "etl_changefeed", "etl_zorder",
    "q57_join_card", "stream_anomaly",
    // late-r9 session 2: the retention sweep (cost ∝ garbage) and the
    // neighbor-overlap similarity (hub-array bound, same class as
    // triangles)
    "etl_vacuum", "graph_jaccard",
    // late-r9 session 2b: the sketch ANALYZE (one exchange of k×32 B
    // partials per column — should be ~flat) and hard-negative mining
    // (broadcast query set, one scan — ~linear in the corpus)
    "etl_stats_approx", "sample_hard_negatives",
    // late-r9 session 2c: the A/V as-of alignment (one media_id
    // shuffle of both tracks — expected ~linear) and the exactly-once
    // lakehouse sink (commit cost ∝ the batch)
    "mm_asof_align", "stream_versioned_sink",
    // the IVM maintenance pass (delta scan reads only differing
    // partitions - cost must track the changed slice)
    "etl_matview",
    // WAP (audit reads the BATCH, publication is a manifest write)
    // and the theta set algebra (one per-key agg + one row)
    "etl_wap", "q58_set_sketch",
    // partition evolution (manifest-level pruning - the evolved read
    // must stay ~flat as the new batch grows)
    "etl_partition_evolution",
    // r10: pagerank — at ×10 the 4M-row footer gate flips the
    // single-task local iteration to the GraphX aggregateMessages
    // backend, so the sweep measures the past-gate path (the
    // graph_triangles discipline); and the banded SemDeDup audit
    // (its constant-size amp slice must keep the query ~flat at ×R —
    // ampFactor shrinks as the base grows; the in-cluster banding at
    // ×R population still lands bits=9)
    "graph_pagerank", "dedup_semantic_banded",
    // late-r10: the zero-copy clone (commit cost ∝ manifest, CoW cost
    // ∝ the touched partition — both must stay ~flat-to-linear while
    // the table grows ×R) and the recall audit (the exact leg is the
    // corpus scan, the served leg is index-cost — the sweep measures
    // the scan-bound claim)
    "etl_clone", "ann_recall_audit",
    // clone-aware vacuum: decision ∝ manifests, sweep ∝ garbage
    "etl_vacuum_refs",
    // late-r10: LP communities — the gate flips at ×10, so the sweep
    // runs the distributed (dst, lab)-count argmax rounds
    "graph_labelprop",
    // r11: the two r10 ops that missed their sweep rows (verdict item
    // 4) — the grouped OLS pass (two scans + one constant-width agg,
    // expected ~linear) and the MRL truncation eval (prefix-slice
    // scan + the shared grading join, expected scan-bound)
    "q59_regression", "embed_truncation",
    // r11 new ops: the CAS commit race (store build ∝ table, commits
    // ∝ touched partitions) and the multibyte gate (scan-side
    // transform + the same constant-width text aggregations)
    "etl_concurrent_commit", "text_fingerprint_utf8",
    // r12 new ops: the live-PG wire COPY roundtrip (load ∝ rows — the
    // per-partition binary COPY is the production path; the server is
    // the per-JVM throwaway) and the 1100-commit manifest store
    // (physical store build ∝ table, commit count fixed by design)
    "etl_pg_roundtrip", "etl_manifest_scale")

  /** Content key of the base corpus ([[SourceKey.of]] of every table):
    * a regenerated base must invalidate the amplified copy, or every
    * ×R timing silently runs cross-corpus. v2: covers every amplified/
    * copied table, not just the text/embedding corpora. v3: events
    * user_id rotation into the customer key space (advice r8) — the
    * bump regenerates cached x5/x10 dirs built under the old offset.
    * v4: the per-table key walks nested part files, not just the
    * top-level ones. */
  private def baseKey(base: String): String =
    "v4:" + Tables.All.map(SourceKey.of(base, _)).mkString(":")

  private def amplify(spark: SparkSession, base: String, out: String, r: Int): Unit = {
    val marker = java.nio.file.Paths.get(out, "_GRAFT_SCALE_OK")
    val key = baseKey(base)
    if (java.nio.file.Files.exists(marker) &&
      java.nio.file.Files.readString(marker) == key) return
    val reps = spark.range(0, r).select(col("id").cast("int").as("rep"))
    Tables.documents(spark, base)
      .crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("rep").cast("long") * 100000000L).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => concat(lit("r"), col("rep").cast("string"), lit("_"), w)),
            " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      // spread the corpus over many files: a single fat parquet file
      // gives the ×R scans 2-4 input splits and funnels the pair-stage
      // aggregations into a couple of giant tasks (observed: 12-min
      // single-task stages) — real corpora are many-file by nature
      .repartition(64)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    spark.read.parquet(s"$base/embeddings.parquet")
      .crossJoin(broadcast(reps))
      .select(
        (col("vec_id") + col("rep").cast("long") * 100000000L).as("vec_id"),
        when(col("rep") === 0, col("embedding")).otherwise(
          // zip_with against the index sequence = transform-with-index
          zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, i) => (x + (pmod(xxhash64(col("vec_id"), col("rep"), i),
              lit(1000)).cast("double") / lit(1000000.0)).cast("float"))
              .cast("float"))).as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // Fact tables amplified with key offsets (replica k's orders stay
    // joined to replica k's lineitems; event_ids stay unique and the
    // user population grows so sessionization state scales too); the
    // DIMENSION tables copy verbatim — the catalog does not grow when
    // traffic does, which is exactly what makes broadcast-dim joins
    // the scale shape and multiplies per-part skew ×R for q36.
    def ampFacts(name: String, df: DataFrame, offsets: Map[String, Long],
        nFiles: Int): Unit = {
      val cols = df.columns.map { c =>
        offsets.get(c) match {
          case Some(off) => (col(c) + col("rep").cast("long") * off).as(c)
          case None => col(c)
        }
      }
      df.crossJoin(broadcast(reps)).select(cols.toIndexedSeq: _*)
        .repartition(nFiles)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    ampFacts("lineitem", Tables.lineitem(spark, base),
      Map("l_orderkey" -> 100000000L), 64)
    ampFacts("orders", Tables.orders(spark, base),
      Map("o_orderkey" -> 100000000L), 32)
    // events read through Tables.events (ts normalized to TIMESTAMP µs
    // whatever the generator wrote — the schema-drift guard).
    // Replica user_ids ROTATE through the real customer key space
    // instead of escaping it (advice r8): the old +1e6-per-replica
    // offset grew the user population but replica events never joined
    // a customer, so customer-joining consumers (etl_forget's events
    // drop-set, stream_enrich's match path) measured kept-side scans
    // only. With (user_id + rep·span) mod nCust every replica event
    // resolves to a REAL customer — subject drop-sets now grow with
    // the corpus — while the active-user population still grows ×R
    // (span = base user span keeps replica populations disjoint until
    // they wrap at nCust). event_id keeps the plain uniqueness offset.
    val custRow = spark.read.parquet(s"$base/customer.parquet")
      .agg(min(col("c_custkey")), max(col("c_custkey")), count(lit(1))).head()
    val (cMin, cMax, nCust) =
      (custRow.getLong(0), custRow.getLong(1), custRow.getLong(2))
    require(cMin == 0L && nCust == cMax + 1,
      s"customer keys not 0-based contiguous (min=$cMin max=$cMax " +
        s"n=$nCust) — the user_id rotation needs a dense key space")
    val ev = Tables.events(spark, base)
    val uSpan = ev.agg(max(col("user_id"))).head().getLong(0) + 1
    val evCols = ev.columns.map {
      case "event_id" =>
        (col("event_id") + col("rep").cast("long") * 100000000L).as("event_id")
      case "user_id" =>
        pmod(col("user_id") + col("rep").cast("long") * uSpan,
          lit(nCust)).as("user_id")
      case c => col(c)
    }
    ev.crossJoin(broadcast(reps)).select(evCols.toIndexedSeq: _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    Seq("region", "nation", "customer", "supplier", "part").foreach { n =>
      spark.read.parquet(s"$base/$n.parquet")
        .write.mode("overwrite").parquet(s"$out/$n.parquet")
    }
    java.nio.file.Files.writeString(marker, key): Unit
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val r = sys.env.getOrElse("SPARK_GRAFT_SCALE", "5").toInt
    val out = args.lift(1).getOrElse(s"target/scale_sweep/x$r")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    amplify(spark, base, out, r)

    def time(name: String, dir: String): Double = {
      val fn = SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        Checkpoints.sweeping(spark) {
          fn(spark, dir).write.format("noop").mode("overwrite").save()
        }
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once()) // min-of-2: second run is plan-warm
    }

    val only = SparkEntry.parseOnly()
    val rows = Subset.filter(q => only.forall(_.contains(q)))
      .map { q =>
        val t1 = time(q, base)
        val tr = time(q, out)
        System.err.println(f"[scale] $q%-22s x1 $t1%7.2fs  x$r $tr%7.2fs  ratio ${tr / t1}%5.2f")
        q -> (t1, tr)
      }
    // Banding A/B at ×R (the §6 finding's remedy, now CODIFIED): at a
    // FIXED 16-band × 2-row config, random band collisions grow ~n²
    // with the corpus; the self-tuning rule (minhashBandRowsFor, the
    // default since r8) must AUTO-SELECT the measured remedy here.
    // Recall cost is checked directly: which fixed-r=2 pairs does the
    // auto-tuned config lose?
    // SPARK_GRAFT_AB=1 forces the A/B block even under a SPARK_GRAFT_ONLY
    // subset (r9): the full sweep can exceed a single driver window, so
    // rows and A/Bs must be runnable in separate invocations
    val bandAb = if (only.isEmpty || sys.env.contains("SPARK_GRAFT_AB")) {
      // bandRows > 0 forces the fixed legacy config (16×2 when
      // numHashes=32); bandRows = -1 exercises the production default
      def run(bandRows: Int): (Double, Set[(Long, Long)]) = {
        def lsh() =
          if (bandRows > 0)
            graft.operators.Dedup.minhashLsh(spark, out,
              numHashes = 32, bandRows = bandRows)
          else graft.operators.Dedup.minhashLsh(spark, out)
        def once(): Double = {
          val t0 = System.nanoTime()
          Checkpoints.sweeping(spark) {
            lsh().write.format("noop").mode("overwrite").save()
          }
          (System.nanoTime() - t0) / 1e9
        }
        val t = math.min(once(), once())
        val pairs = Checkpoints.sweeping(spark) {
          lsh().collect().map(row => (row.getLong(0), row.getLong(1))).toSet
        }
        (t, pairs)
      }
      val (t2, p2) = run(2)
      val (t4, p4) = run(-1) // the self-tuned default
      val lost = p2 -- p4
      System.err.println(f"[scale] minhash banding x$r: fixed 16x2 $t2%.2fs/${p2.size} pairs, " +
        f"auto $t4%.2fs/${p4.size} pairs, lost ${lost.size} (recall ${1.0 - lost.size.toDouble / math.max(p2.size, 1)}%.4f)")
      // same trap, embedding side: the 4-bit hyperplane bands that suit
      // the 5k-corpus (loose on purpose — no planted embedding dups,
      // SURVEY §2.3) put ~n/2^bits vectors in every band bucket, and
      // candidate pairs grow with the square of that. 8 bits quarters
      // the bucket occupancy; top-20 equality is the recall bar.
      def runEmb(bits: Int): (Double, Set[(Long, Long)]) = {
        def once(): Double = {
          val t0 = System.nanoTime()
          Checkpoints.sweeping(spark) {
            graft.operators.Dedup.embeddingPairs(spark, out, bits = bits)
              .write.format("noop").mode("overwrite").save()
          }
          (System.nanoTime() - t0) / 1e9
        }
        val t = math.min(once(), once())
        val pairs = Checkpoints.sweeping(spark) {
          graft.operators.Dedup.embeddingPairs(spark, out, bits = bits)
            .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
        }
        (t, pairs)
      }
      val (e4, ep4) = runEmb(4)
      val (e8, ep8) = runEmb(8)
      val eLost = ep4 -- ep8
      System.err.println(f"[scale] embedding banding x$r: 4-bit $e4%.2fs, 8-bit $e8%.2fs, " +
        f"top-20 overlap ${(ep4 & ep8).size}/${ep4.size}")
      // SemDeDup past-cap A/B (r9, verdict item 2): force the gated
      // k=8 on the ×R corpus — cluster populations are R× the [125,
      // 250] design band, exactly the past-cap regime the banded
      // in-cluster path exists for — and run the exact in-cluster
      // self-join vs the banded candidates on IDENTICAL clusters.
      // Equality bar: the full ordered top-50 output.
      def runSem(banded: Boolean): (Double, Seq[(Long, Long, Double)]) = {
        def df() = graft.operators.Similarity.semanticDedup(spark, out,
          kOverride = 8, forceBanded = banded)
        def once(): Double = {
          val t0 = System.nanoTime()
          Checkpoints.sweeping(spark) {
            df().write.format("noop").mode("overwrite").save()
          }
          (System.nanoTime() - t0) / 1e9
        }
        val t = math.min(once(), once())
        val out50 = Checkpoints.sweeping(spark) {
          df().collect()
            .map(row => (row.getLong(0), row.getLong(2), row.getDouble(3)))
            .toSeq
        }
        (t, out50)
      }
      val (semExactS, semExactRows) = runSem(banded = false)
      val (semBandS, semBandRows) = runSem(banded = true)
      val semEqual = semExactRows == semBandRows
      System.err.println(f"[scale] semdedup past-cap x$r (k=8 forced): " +
        f"exact $semExactS%.2fs, banded $semBandS%.2fs, top-50 equal $semEqual")
      f""","banding_x$r":{"r2_s":$t2%.3f,"r4_s":$t4%.3f,"r2_pairs":${p2.size},"r4_pairs":${p4.size},"lost":${lost.size}},""" +
      f""""emb_banding_x$r":{"b4_s":$e4%.3f,"b8_s":$e8%.3f,"overlap":${(ep4 & ep8).size},"lost":${eLost.size}},""" +
      f""""sem_banded_x$r":{"exact_s":$semExactS%.3f,"banded_s":$semBandS%.3f,"top50_equal":$semEqual}"""
    } else ""
    val json = rows.map { case (q, (t1, tr)) =>
      f""""$q":{"x1":$t1%.3f,"x$r":$tr%.3f,"ratio":${tr / t1}%.2f}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"scaleup","factor":$r,"base":"$base","queries":$json$bandAb}"""
    println(line)
    // result lands beside the amplified data (NOT a hardcoded dir that
    // may not exist when [outDir] is custom — review finding r7)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, s"result_x$r.json"), line): Unit
    spark.stop()
  }
}
