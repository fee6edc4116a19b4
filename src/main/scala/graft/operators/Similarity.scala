package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.embeddings
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbour search over the `embeddings` table
  * (SURVEY.md §2.4).
  *
  * Scale design: brute force is the exactness baseline (one narrow pass
  * + top-k, no shuffle of vectors beyond the final k rows); the LSH and
  * IVF variants cut the candidate set before any pairwise math — at
  * 100 TB the bucket/cell id is computed in the scan projection and the
  * join key carries only (bucket, id), so the shuffle never moves the
  * raw vectors for non-candidates.
  */
object Similarity {

  /** Probe-cell count for the IVF family (inline ivf/ivfpq AND the
    * persisted-index serving paths, which must answer identically —
    * AnnIndexSpec pins served == inline). nprobe is THE recall/cost
    * knob of cell-partitioned ANN: measured on this corpus, the
    * recall@5 CEILING (fraction of exact top-k landing in probed
    * cells — ADC + exact rerank lose nothing further, the Verify
    * probes showed measured recall == ceiling) moves 0.52 → 0.68 mean
    * over the 5-query batch going 2 → 4, at 2× probed-cell code scan
    * (cells ∝ n/50, so the scan stays a ~4·50/n fraction of the
    * corpus at any scale). Lloyd-refining the coarse centroids was
    * measured too (+0.0-0.12 at nprobe 4) and rejected: it buys less
    * than the probe bump and costs a full-dim quantised-mean oracle
    * replay. */
  val Nprobe = 4

  /** Exact-rerank shortlist depth for the *_rerank family and the
    * index serving paths. Sized WITH Nprobe: widening the probe set
    * 2 → 4 doubles the ADC candidate pool, and a fixed top-50 ADC
    * shortlist then admits more ADC-favored impostors — measured
    * single-query recall@10 DROPPED 0.80 → 0.70 on the nprobe bump
    * alone; c = 100 restores the shortlist's share of the pool. The
    * exact rerank stage costs c broadcast point-fetches per query, so
    * doubling it is noise next to the probed-cell code scan. */
  val RerankC = 100

  /** (vec_id, cos) of every OTHER vector vs the query vector — the
    * shared narrow scoring pass behind [[bruteForce]] (top-k) and
    * [[rangeSearch]] (radius): one broadcast of the single query row,
    * no shuffle of the corpus vectors. */
  private def cosineToQuery(s: SparkSession, d: String, queryId: Long,
      extraCols: Seq[String] = Nil, pred: Column = lit(true)): DataFrame = {
    val e = embeddings(s, d).select(
      (col("vec_id") +: extraCols.map(col)) ++
        Seq(col("embedding"), norm2(col("embedding")).as("n2")): _*)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("n2").as("q_n2"))
    e.filter(col("vec_id") =!= queryId && pred)
      .crossJoin(broadcast(q))
      .select((col("vec_id") +: extraCols.map(col)) :+
        (dotD(col("embedding"), col("q_emb")) /
          sqrt(col("n2") * col("q_n2"))).as("cos"): _*)
  }

  /** Exact top-k cosine neighbours of vector `queryId` (brute force). */
  def bruteForce(s: SparkSession, d: String, queryId: Long = AuditQueryId,
      k: Int = 10): DataFrame =
    cosineToQuery(s, d, queryId)
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)

  private val cosSql =
    """list_reduce(list_transform(list_zip(%A%, %B%),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (p, q) -> p + q)
      |  / SQRT(
      |    list_reduce(list_transform(list_zip(%A%, %A%),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (p, q) -> p + q)
      |    * list_reduce(list_transform(list_zip(%B%, %B%),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (p, q) -> p + q))""".stripMargin

  /** Shared with Dedup.embeddingPairsSql (the FnvWordSql precedent):
    * ONE definition of the cosine fold, so a cast/shape change can't
    * desynchronize the dedup oracle from the ann_* oracles. */
  private[graft] def cosOf(a: String, b: String): String =
    cosSql.replace("%A%", a).replace("%B%", b)

  val bruteForceSql: String =
    s"""SELECT vec_id, ${cosOf("embedding", "q_emb")} AS cos
       |FROM embeddings
       |CROSS JOIN (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $AuditQueryId)
       |WHERE vec_id <> $AuditQueryId
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin

  /** Grade an exact top-k frame ((vec_id, cos), already limited)
    * against a served/candidate id set: one row per exact rank with a
    * hit flag and cumulative recall@r. ONE grading definition shared
    * by AnnIndex.recallAudit and [[truncationAudit]] (the serve-chain
    * CTE discipline) — integer rank arithmetic plus one double
    * division, bit-exact by construction. */
  private[operators] def gradeAgainstExact(exact: DataFrame,
      served: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("cos").desc, col("vec_id"))
    exact
      .withColumn("rnk", row_number().over(w))
      // distinct: a duplicate-carrying served set must not fan exact
      // rows out through the join (would break the dense 1..k rank
      // sequence the recall arithmetic relies on)
      .join(served.select(col("vec_id")).distinct()
          .withColumn("hit", lit(true)),
        Seq("vec_id"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(false)))
      .withColumn("hits_at", sum(when(col("hit"), 1L).otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rnk"), col("vec_id"), col("cos"), col("hit"),
        (col("hits_at").cast("double") / col("rnk")).as("recall_at"))
      .orderBy(col("rnk"))
  }

  /** The audited (query id, depth, prefix dims) tuple shared by every
    * recall-style gate AND its oracle SQL: the Scala defaults and the
    * SQL literals are both derived from these constants (r10 advice),
    * so a non-default invocation wired into the gated harness cannot
    * silently grade against a mismatched oracle — change the constant
    * and both sides move together. */
  final val AuditQueryId = 0L
  final val AuditK = 10
  final val AuditDims = 16

  /** [[gradeAgainstExact]] as SQL: expects a `served(vec_id, …)` CTE
    * in scope; appends the exact/ranked CTEs and the grading SELECT.
    * Parameterized on the same knobs as the Scala side. */
  private[operators] def gradeVsExactSql(queryId: Long = AuditQueryId,
      k: Int = AuditK): String =
    s"""exact AS (
       |  SELECT vec_id, ${cosOf("embedding", "q_emb")} AS cos
       |  FROM embeddings
       |  CROSS JOIN (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $queryId)
       |  WHERE vec_id <> $queryId
       |  ORDER BY cos DESC, vec_id LIMIT $k),
       |ranked AS (
       |  SELECT vec_id, cos,
       |    ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rnk
       |  FROM exact)
       |SELECT CAST(r.rnk AS INT) AS rnk, r.vec_id, r.cos,
       |  (s.vec_id IS NOT NULL) AS hit,
       |  CAST(SUM(CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    OVER (ORDER BY r.rnk) AS DOUBLE) / r.rnk AS recall_at
       |FROM ranked r LEFT JOIN served s USING (vec_id)
       |ORDER BY rnk""".stripMargin

  /** Default-knob application of [[gradeVsExactSql]] for the gated
    * oracles. */
  private[operators] val GradeVsExactSql: String = gradeVsExactSql()

  /** `embed_truncation` — truncated-dimension retrieval quality (the
    * Matryoshka-representation eval, Kusupati et al. NeurIPS'22): the
    * top-k by cosine over only the FIRST `dims` embedding components,
    * graded against the full-dimension exact top-k with the shared
    * recall@r report. This is the number that decides whether a
    * cheap low-dim prefilter (or a truncated index) can stand in for
    * the full vectors — the dimension-reduction twin of
    * ann_recall_audit's index-quality report.
    *
    * At 100 TB the truncated scan reads dims/D of the vector bytes
    * (with columnar layouts, a prefix slice prunes at the page
    * level); the full-dim exact leg runs on a query-id sample exactly
    * as in the recall audit. */
  def truncationAudit(s: SparkSession, d: String,
      queryId: Long = AuditQueryId, dims: Int = AuditDims,
      k: Int = AuditK): DataFrame = {
    val et = embeddings(s, d).select(col("vec_id"),
      slice(col("embedding"), 1, dims).as("emb"))
    val en = et.select(col("vec_id"), col("emb"), norm2(col("emb")).as("n2"))
    val q = en.filter(col("vec_id") === queryId)
      .select(col("emb").as("q_emb"), col("n2").as("q_n2"))
    val trunc = en.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), (dotD(col("emb"), col("q_emb")) /
        sqrt(col("n2") * col("q_n2"))).as("tcos"))
      .orderBy(col("tcos").desc, col("vec_id"))
      .limit(k)
    gradeAgainstExact(bruteForce(s, d, queryId, k), trunc)
  }

  val truncationAuditSql: String = {
    val t = s"embedding[1:$AuditDims]"
    s"""WITH served AS (
       |  SELECT vec_id, ${cosOf(t, "q_emb")} AS tcos
       |  FROM embeddings
       |  CROSS JOIN (SELECT $t AS q_emb FROM embeddings WHERE vec_id = $AuditQueryId)
       |  WHERE vec_id <> $AuditQueryId
       |  ORDER BY tcos DESC, vec_id LIMIT $AuditK),
       |${gradeVsExactSql()}""".stripMargin
  }

  /** `ann_filtered` — metadata-filtered vector search: exact top-10
    * cosine neighbours of the query vector RESTRICTED to rows passing
    * a metadata predicate (label % 2 = 0 — half the corpus), the
    * filtered-search surface every production vector store exposes
    * (FAISS IDSelector, the vector-DB `filter=` parameter). The
    * predicate composes into the scan projection, so the scoring pass
    * reads exactly the qualifying half — PushedFilters carries it to
    * parquet. At scale the same predicate composes with IVF cell
    * probing (score only qualifying codes in probed cells), with
    * selectivity-aware nprobe widening as the standard refinement;
    * the exact form here is the recall-1 baseline of that path. */
  def filteredSearch(s: SparkSession, d: String, queryId: Long = AuditQueryId): DataFrame =
    cosineToQuery(s, d, queryId,
      extraCols = Seq("label"), pred = col("label") % 2 === 0)
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)

  val filteredSearchSql: String =
    s"""SELECT vec_id, label, ${cosOf("embedding", "q_emb")} AS cos
       |FROM embeddings
       |CROSS JOIN (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $AuditQueryId)
       |WHERE vec_id <> $AuditQueryId AND label % 2 = 0
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin

  /** k-NN join: top-5 neighbours for each query in a fixed query set. */
  def topkJoin(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("n2").as("q_n2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dotD(col("embedding"), col("q_emb")) /
          sqrt(col("n2") * col("q_n2"))).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy(col("q_id"), col("rnk"))
  }

  val topkJoinSql: String =
    s"""SELECT q_id, vec_id, cos, rnk FROM (
       |  SELECT q_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
       |  FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
       |      ${cosOf("e.embedding", "q.embedding")} AS cos
       |    FROM embeddings e
       |    JOIN embeddings q ON q.vec_id < 5 AND e.vec_id <> q.vec_id))
       |WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin

  /** `sample_hard_negatives` — contrastive-training hard-negative
    * mining: for each query vector, the k most-similar vectors with a
    * DIFFERENT label (the negatives a contrastive loss learns most
    * from), each reported with its margin against the query's hardest
    * POSITIVE (max same-label cosine). margin ≥ 0 names a violation —
    * a negative ranked above a true positive — exactly the pairs
    * curriculum builders and re-labelling audits want first.
    *
    * Plan: the 8-query set broadcasts, ONE corpus scan scores both
    * sides of the contrast (negatives via the label-≠ join, the
    * per-query positive ceiling via a max over the label-= rows of
    * the same scored frame), and the bounded top-k window runs per
    * query. Both cosine folds and the margin subtraction are the
    * shared exact double folds ([[cosOf]]), so the output is
    * bit-identical cross-engine. At 100 TB the index-served twin is
    * [[AnnIndex.knnJoin]] with a label filter on the candidate side
    * (the ann_filtered composition); this exact form is its
    * recall-1 baseline and the gate for it. */
  def hardNegatives(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("label"),
      col("embedding"), norm2(col("embedding")).as("n2"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"), col("n2").as("q_n2"))
    // pinned: scored feeds BOTH the positive-ceiling aggregate and the
    // negatives window — their exchange children differ (filter on
    // label= vs label≠), so ReuseExchange cannot merge them and an
    // unpinned frame would scan + broadcast-join the corpus twice
    // (review finding, this session)
    val scored = graft.Checkpoints.pin(
      e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
          (dotD(col("embedding"), col("q_emb")) /
            sqrt(col("n2") * col("q_n2"))).as("cos")))
    val posCeil = scored.filter(col("label") === col("q_label"))
      .groupBy(col("q_id").as("pq_id"))
      .agg(max(col("cos")).as("pos_max"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.filter(col("label") =!= col("q_label"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .join(broadcast(posCeil), col("q_id") === col("pq_id"))
      .select(col("q_id"), col("rnk"), col("vec_id"),
        col("label").as("neg_label"), col("cos"),
        (col("cos") - col("pos_max")).as("margin"))
      .orderBy(col("q_id"), col("rnk"))
  }

  val hardNegativesSql: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS q_id, q.label AS q_label,
       |    e.vec_id AS vec_id, e.label AS label,
       |    ${cosOf("e.embedding", "q.embedding")} AS cos
       |  FROM embeddings e
       |  JOIN embeddings q ON q.vec_id < 8 AND e.vec_id <> q.vec_id),
       |pos AS (
       |  SELECT q_id, MAX(cos) AS pos_max FROM scored
       |  WHERE label = q_label GROUP BY q_id),
       |neg AS (
       |  SELECT q_id, vec_id, label, cos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, vec_id) AS INT) AS rnk
       |  FROM scored WHERE label <> q_label)
       |SELECT n.q_id, n.rnk, n.vec_id, n.label AS neg_label, n.cos,
       |  n.cos - p.pos_max AS margin
       |FROM neg n JOIN pos p USING (q_id)
       |WHERE n.rnk <= 5
       |ORDER BY n.q_id, n.rnk""".stripMargin

  /** The dot-product fold alone (the cosine's numerator), for oracles
    * that pre-compute norms once per VECTOR instead of re-folding them
    * per PAIR — same sequential left-to-right double fold as
    * [[cosOf]]'s pieces, so cos = dot/sqrt(n2a·n2b) stays bit-identical
    * to the one-shot form. */
  private[graft] def dotSqlOf(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (p, q) -> p + q)""".stripMargin

  /** Exact-path corpus cap for [[knnGraph]]: under it the corpus
    * broadcasts to one side of the pair generation (no shuffle at
    * all before the top-k partials); past it the pair stream comes
    * from a partition-pairwise cartesian — memory-safe, still exact,
    * O(n²) work by the DEFINITION of an exact k-NN graph. The ANN
    * escape hatch past ~1M vectors is [[graft.operators.AnnIndex
    * .knnJoin]] with the full corpus as the query set (IVF-PQ
    * candidates, exact rerank — recall-conditional). */
  val KnnGraphBroadcastCap = 8192L

  /** `ann_knn_graph` — the mutual k-NN graph of the whole corpus
    * (k = 4): edge (a, b) exists iff each vector is in the other's
    * exact top-k by cosine (tie-break: smaller id). THE construction
    * under SemDeDup-style semantic clustering, graph-based dedup and
    * kNN-classification pipelines — mutuality is the standard noise
    * filter (a hub that names b is not enough; b must name a back).
    *
    * Plan shape: the n² pair stream is aggregated by
    * `collect_top_k(struct(cos, -id), k)` — a bounded-priority-queue
    * aggregate with MAP-SIDE partials, so the exchange moves ≤ k rows
    * per node while the quadratic work stays in the scan stage (the
    * same reason q49 carries a KMV sketch instead of a distinct
    * stream). Struct ordering does the tie-break structurally:
    * max by (cos, -id) prefers the smaller id at equal cosine.
    * Mutuality is one (≤ n·k)-row self equi-join. The broadcast/
    * cartesian gate is [[KnnGraphBroadcastCap]].
    *
    * Oracle: DuckDB replays the identical dot/√(n2·n2) per pair with
    * norms pre-folded once per vector (dotSqlOf), ranks with
    * ROW_NUMBER, and joins mutuality — cosines cross the engines
    * bit-exactly (the ann_topk_join precedent). */
  def knnGraph(s: SparkSession, d: String, k: Int = 4,
      capOverride: Long = KnnGraphBroadcastCap): DataFrame = {
    // the n×n cos pair stage streams the raw embeddings scan — a
    // single-file corpus arrives as 1-2 splits, serializing the
    // quadratic dot-product work onto one core (measured r13: 3.5 s of
    // the 3.7 s action on one task). Fan the scan to core count below
    // it (the kmeansAssign idiom); identity at real scale where the
    // scan already exceeds it.
    val raw = embeddings(s, d).select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"))
    val sp = s.sparkContext.defaultParallelism
    val e = if (raw.rdd.getNumPartitions < sp) raw.repartition(sp) else raw
    val r = e.select(col("vec_id").as("dst"), col("embedding").as("r_emb"),
      col("n2").as("r_n2"))
    val nVecs = graft.Tables.footerRowCount(s, d, "embeddings")
    // past the cap: shuffle_replicate_nl pins the partition-pairwise
    // cartesian (a plain crossJoin would still broadcast-build the
    // full corpus whenever stats sit under the broadcast threshold —
    // exactly the OOM the cap exists to avoid)
    val pairs = (if (nVecs <= capOverride) e.join(broadcast(r),
        col("vec_id") =!= col("dst"))
      else e.hint("shuffle_replicate_nl").crossJoin(r)
        .filter(col("vec_id") =!= col("dst")))
      .select(col("vec_id").as("src"), col("dst"),
        (dotD(col("embedding"), col("r_emb")) /
          sqrt(col("n2") * col("r_n2"))).as("cos"))
    // pinned (r13 optimization): the mutuality self-join consumed this
    // frame from BOTH sides, and each side re-ran the ENTIRE n² pair
    // stage (scan → broadcast nested-loop → partial top-k — the two
    // BroadcastNestedLoopJoin subtrees in the before-plan). The top-k
    // frame is n·k rows (~8 KB per 1k vectors); one eager
    // materialization halves the quadratic work, swept by the harness
    // post-action.
    val topk = graft.Checkpoints.pin(pairs
      .groupBy(col("src"))
      .agg(org.apache.spark.sql.graft.shim.collectTopK(
        struct(col("cos"), (-col("dst")).as("nd")), k).as("tk"))
      .select(col("src"), explode(col("tk")).as("t"))
      .select(col("src"), (-col("t.nd")).as("dst"), col("t.cos").as("cos")))
    topk.as("x")
      .join(topk.select(col("src").as("dst"), col("dst").as("src")).as("y"),
        Seq("src", "dst"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"), col("cos"))
      .orderBy(col("a"), col("b"))
  }

  val knnGraphSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    ${dotSqlOf("embedding", "embedding")} AS n2
       |  FROM embeddings),
       |p AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    ${dotSqlOf("a.embedding", "b.embedding")} / SQRT(a.n2 * b.n2) AS cos
       |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
       |k AS (
       |  SELECT src, dst, cos,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rnk
       |  FROM p),
       |e AS (SELECT src, dst, cos FROM k WHERE rnk <= 4)
       |SELECT e1.src AS a, e1.dst AS b, e1.cos AS cos
       |FROM e e1 JOIN e e2 ON e1.src = e2.dst AND e1.dst = e2.src
       |WHERE e1.src < e1.dst
       |ORDER BY a, b""".stripMargin

  /** `ann_hybrid` — hybrid lexical+vector retrieval with
    * reciprocal-rank fusion (Cormack et al., SIGIR'09), the standard
    * RAG serving move: a BM25-ish keyword leg and a dense-cosine leg
    * each produce a bounded top-`kLeg` ranking, fused by
    * Σ 1/(60+rank). The corpus pairs `documents.doc_id` with its
    * embedding row `embeddings.vec_id` (ids align by construction);
    * the query is document 0 on both legs.
    *
    * Determinism discipline: the lexical weight is the log-free linear
    * idf ([[TextAnalysis.tfidf]]'s rule) in FIXED POINT —
    * ⌊1e6·N/df⌋ per distinct shared term, integer-summed — and the
    * RRF constant-60 fold is ⌊1e9/(60+rank)⌋, so fusion never touches
    * a double and both engines agree bit-exactly. Ranks, not raw
    * scores, cross the fusion boundary — RRF's whole point — which
    * also makes the fused order invariant to any monotone rescaling
    * of either leg.
    *
    * 100 TB: the lexical leg is an inverted-index PROBE, not a scan
    * rank — the query's term-weight table (≤ |query terms| rows) is
    * broadcast and joined against the token postings, so work is
    * ∝ postings of the query's terms; the vector leg is the narrow
    * cosine pass (at scale: the IVF-PQ serve path — same ranks in).
    * Both legs cut to kLeg rows BEFORE fusion, so the full-outer
    * fusion join touches ≤ 2·kLeg rows regardless of corpus size. */
  def hybridRrf(s: SparkSession, d: String, queryId: Long = AuditQueryId,
      kLeg: Int = 50, n: Int = 10): DataFrame = {
    import graft.Tables.documents
    import graft.functions.TextFunctions.words
    // tok re-derives per consumer (dfw, lexTop) instead of pinning: the
    // localCheckpoint materialized the FULL token explode to storage
    // before any consumer ran — two streaming re-scans of the narrow
    // (doc_id, text) projection cost less than one store+read of the
    // exploded stream, and nothing corpus-sized is pinned (r13 A/B)
    val tok = documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(words(col("text")))).as("w"))
    val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
    // the query's term set comes from the ONE query document directly
    // (pushed doc_id filter → a one-row scan + explode), not from the
    // corpus-wide token pin — same rows, and the broadcast build no
    // longer waits on (or re-reads) the full materialization (r13)
    val qw = documents(s, d).filter(col("doc_id") === queryId)
      .select(explode(array_distinct(words(col("text")))).as("w"))
    val dfw = tok.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val wts = dfw.join(broadcast(qw), "w")
      .crossJoin(broadcast(nDocs))
      .select(col("w"), expr("(1000000 * n_docs) DIV df").as("idf"))
    val lexTop = tok.filter(col("doc_id") =!= queryId)
      .join(broadcast(wts), "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("idf")).as("lex_score"))
      .orderBy(col("lex_score").desc, col("doc_id"))
      .limit(kLeg)
    // row_number over an unpartitioned window is single-partition by
    // design — it only ever sees the kLeg rows the limit kept
    val lexR = lexTop.withColumn("lex_rank", row_number().over(
        Window.orderBy(col("lex_score").desc, col("doc_id"))))
      .select(col("doc_id"), col("lex_rank"))
    val vecR = cosineToQuery(s, d, queryId)
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(kLeg)
      .withColumn("vec_rank", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("vec_rank"))
    lexR.join(vecR, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        expr("""CAST(coalesce(1000000000 DIV (60 + lex_rank), 0)
                   + coalesce(1000000000 DIV (60 + vec_rank), 0) AS BIGINT)""")
          .as("rrf"),
        col("lex_rank"), col("vec_rank"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(n)
  }

  /** The fusion replayed in DuckDB: list_distinct ≡ array_distinct for
    * the per-doc term sets, `//` for both fixed-point DIVs, QUALIFY
    * for the leg cuts, explicit COALESCE on the full-outer key. */
  val hybridRrfSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS w
       |  FROM documents),
       |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
       |qw AS (SELECT w FROM tok WHERE doc_id = $AuditQueryId),
       |dfw AS (SELECT w, COUNT(*) AS df FROM tok GROUP BY w),
       |wts AS (
       |  SELECT d2.w, (1000000 * nd.n_docs) // d2.df AS idf
       |  FROM dfw d2 JOIN qw USING (w) CROSS JOIN nd),
       |lex AS (
       |  SELECT t.doc_id, CAST(SUM(w2.idf) AS BIGINT) AS lex_score
       |  FROM tok t JOIN wts w2 USING (w)
       |  WHERE t.doc_id <> $AuditQueryId GROUP BY t.doc_id),
       |lexr AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY lex_score DESC, doc_id) AS INT)
       |      AS lex_rank
       |  FROM lex QUALIFY lex_rank <= 50),
       |vec AS (
       |  SELECT vec_id AS doc_id, ${cosOf("embedding", "q_emb")} AS cos
       |  FROM embeddings
       |  CROSS JOIN (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $AuditQueryId)
       |  WHERE vec_id <> $AuditQueryId),
       |vecr AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INT)
       |      AS vec_rank
       |  FROM vec QUALIFY vec_rank <= 50)
       |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
       |  CAST(COALESCE(1000000000 // (60 + l.lex_rank), 0)
       |     + COALESCE(1000000000 // (60 + v.vec_rank), 0) AS BIGINT) AS rrf,
       |  l.lex_rank, v.vec_rank
       |FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
       |ORDER BY rrf DESC, doc_id
       |LIMIT 10""".stripMargin

  /** Per-dimension corpus statistics (count / mean / mean-square) — the
    * normalization-stats pass an embedding pipeline runs before
    * whitening or scaling. posexplode → 64-group hash agg: the shuffle
    * carries 64 partial rows per task, nothing else; decimal
    * accumulation keeps the means bit-stable across partitionings. */
  def dimStats(s: SparkSession, d: String): DataFrame = {
    import graft.queries.Frags.davg9
    embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        col("x").cast("double").as("xd"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        expr(davg9("xd")).as("mean"),
        expr(davg9("xd * xd")).as("mean_sq"))
      .orderBy(col("dim"))
  }

  /** Oracle adapts to each row's actual array length (per-row range
    * unnest), mirroring posexplode — no hardcoded dimensionality. */
  val dimStatsSql: String = {
    import graft.queries.Frags.davg9
    val x = "CAST(embedding[i] AS DOUBLE)"
    s"""SELECT i - 1 AS dim, COUNT(*) AS n,
       |  ${davg9(x)} AS mean,
       |  ${davg9(s"$x * $x")} AS mean_sq
       |FROM (SELECT embedding, UNNEST(range(1, len(embedding) + 1)) AS i
       |      FROM embeddings)
       |GROUP BY 1
       |ORDER BY dim""".stripMargin
  }

  /** `embed_drift` — per-dimension embedding distribution drift
    * between two corpus versions, the release audit [[graft.operators
    * .Corpus.corpusDiff]] runs on text re-expressed on vectors: a
    * re-embedding model bump, a source-mix change or a silent
    * truncation all surface as per-dim mean/second-moment shift
    * before any downstream metric moves. Versions are derived with
    * corpus_diff's membership rules (old: vec_id % 11 ≠ 0, new:
    * vec_id % 17 ≠ 3) so the two audits describe the same release
    * pair. Means are davg9 decimal folds (order-independent, the
    * ann_dim_stats discipline), so the drift deltas are bit-identical
    * across engines and partitionings.
    *
    * 100 TB: two narrow scans each collapsing to d rows via map-side
    * combined per-dim aggregates; the version join is a d-row
    * broadcast. Nothing vector-sized ever shuffles. */
  def embedDrift(s: SparkSession, d: String): DataFrame = {
    import graft.queries.Frags.davg9
    def stats(pred: Column, nm: String, mq: String, cn: String): DataFrame =
      embeddings(s, d).filter(pred)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim").cast("long").as("dim"),
          col("x").cast("double").as("xd"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as(cn),
          expr(davg9("xd")).as(nm),
          expr(davg9("xd * xd")).as(mq))
    stats(col("vec_id") % 11 =!= 0, "mean_old", "msq_old", "n_old")
      .join(broadcast(
        stats(col("vec_id") % 17 =!= 3, "mean_new", "msq_new", "n_new")),
        Seq("dim"))
      .select(col("dim"), col("n_old"), col("n_new"),
        col("mean_old"), col("mean_new"),
        (col("mean_new") - col("mean_old")).as("mean_shift"),
        (col("msq_new") - col("msq_old")).as("msq_shift"))
      .orderBy(col("dim"))
  }

  val embedDriftSql: String = {
    import graft.queries.Frags.davg9
    val x = "CAST(embedding[i] AS DOUBLE)"
    def cte(name: String, cond: String) =
      s"""$name AS (
         |  SELECT i - 1 AS dim, COUNT(*) AS n,
         |    ${davg9(x)} AS mean, ${davg9(s"$x * $x")} AS msq
         |  FROM (SELECT embedding, UNNEST(range(1, len(embedding) + 1)) AS i
         |        FROM embeddings WHERE $cond)
         |  GROUP BY 1)""".stripMargin
    s"""WITH ${cte("o", "vec_id % 11 <> 0")},
       |${cte("nv", "vec_id % 17 <> 3")}
       |SELECT o.dim AS dim, o.n AS n_old, nv.n AS n_new,
       |  o.mean AS mean_old, nv.mean AS mean_new,
       |  nv.mean - o.mean AS mean_shift,
       |  nv.msq - o.msq AS msq_shift
       |FROM o JOIN nv ON o.dim = nv.dim
       |ORDER BY dim""".stripMargin
  }

  /** Whitening pass — the consumer of [[dimStats]]: every component is
    * standardised by its per-dimension corpus mean/std ((x−μ)/σ, σ=0
    * dims → 0), and per-vector summaries are emitted. Per-vector sums
    * accumulate in DECIMAL so they are order-independent; min/max are
    * order-free. The stats join is a 64-row broadcast; the whitening
    * itself is a narrow per-row pass — at 100 TB this pipelines inside
    * the scan stage. */
  def whiten(s: SparkSession, d: String): DataFrame = {
    import graft.queries.Frags.davg9
    val stats = embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), col("x").cast("double").as("xd"))
      .groupBy(col("dim"))
      .agg(expr(davg9("xd")).as("mean"), expr(davg9("xd * xd")).as("mean_sq"))
      // clamp: the floor-quantized davg9 means can leave mean_sq −
      // mean² at ~−2|c|e-9 for a near-constant dimension; DuckDB's
      // SQRT errors on negatives (Spark would yield NaN) — clamp on
      // BOTH sides so the engines stay divergence-free
      .select(col("dim"), col("mean"),
        sqrt(greatest(col("mean_sq") - col("mean") * col("mean"),
          lit(0.0))).as("std"))
    embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .join(broadcast(stats), "dim")
      .select(col("vec_id"),
        when(col("std") > 0,
          (col("x").cast("double") - col("mean")) / col("std"))
          .otherwise(lit(0.0)).as("w"))
      .groupBy(col("vec_id"))
      .agg(
        // floor-quantised (Frags.davg9 rationale): a rounding decimal
        // cast tie-breaks half-way doubles differently across engines
        expr("CAST(SUM(CAST(FLOOR(w * 1e9) AS DECIMAL(28,0))) AS DOUBLE) / 1e9").as("w_sum"),
        min(col("w")).as("w_min"), max(col("w")).as("w_max"))
      .orderBy(col("vec_id"))
  }

  val whitenSql: String = {
    import graft.queries.Frags.davg9
    val x = "CAST(embedding[i] AS DOUBLE)"
    s"""WITH ex AS (
       |  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
       |  FROM (SELECT vec_id, embedding, UNNEST(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |stats AS (
       |  SELECT i - 1 AS dim, ${davg9(x)} AS mean, ${davg9(s"$x * $x")} AS mean_sq
       |  FROM (SELECT embedding, UNNEST(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)
       |  GROUP BY 1),
       |wh AS (
       |  SELECT vec_id,
       |    CASE WHEN SQRT(GREATEST(mean_sq - mean * mean, 0)) > 0
       |         THEN (x - mean) / SQRT(GREATEST(mean_sq - mean * mean, 0))
       |         ELSE 0.0 END AS w
       |  FROM ex JOIN stats USING (dim))
       |SELECT vec_id,
       |  CAST(SUM(CAST(FLOOR(w * 1e9) AS DECIMAL(28,0))) AS DOUBLE) / 1e9 AS w_sum,
       |  MIN(w) AS w_min, MAX(w) AS w_max
       |FROM wh
       |GROUP BY vec_id
       |ORDER BY vec_id""".stripMargin
  }

  /** Deterministic pseudo-random hyperplanes (pure function of (p, j) —
    * reproducible across sessions with no RNG state). */
  private[operators] def plane(p: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      val h = (p.toLong * 1315423911L + j.toLong * 2654435761L + 97531L) % 1000003L
      (h.toDouble / 1000003.0) * 2.0 - 1.0
    }

  private def planeLit(p: Int, dim: Int): Column =
    array(plane(p, dim).map(lit(_)).toIndexedSeq: _*)

  /** Random-hyperplane LSH with hamming≤2 MULTI-PROBE: 6-bit sign
    * bucket; probe the query's bucket plus every bucket within two
    * bit-flips (the buckets a near neighbour most likely fell into
    * when one or two hyperplanes disagreed). The probe stays an
    * equi-join — the probe set explodes to 1+C(n,1)+C(n,2) broadcast
    * rows — and candidates stay a fixed fraction of the bucket space
    * (22/64 here; at production plane counts the same probe order is
    * a far smaller fraction, e.g. 79/4096 for 12 planes).
    * Oracle-exact: the planes are a pure function of (p, j), so
    * [[lshSql]] embeds their exact double literals. */
  def lsh(s: SparkSession, d: String, nPlanes: Int = 6, dim: Int = 64,
      queryId: Long = AuditQueryId, k: Int = 10): DataFrame = {
    val e = embeddings(s, d).select("vec_id", "embedding")
    val bucket = (0 until nPlanes).map { p =>
      when(dotD(col("embedding"), planeLit(p, dim)) >= 0, 1 << p).otherwise(0)
    }.reduce(_ + _)
    val be = e.withColumn("bucket", bucket)
    val probeSet = array(probeMasks(nPlanes)
      .map(m => col("bucket").bitwiseXOR(lit(m))): _*)
    val q = be.filter(col("vec_id") === queryId)
      .select(explode(probeSet).as("q_bucket"), col("embedding").as("q_emb"))
    be.join(broadcast(q), col("bucket") === col("q_bucket") &&
        col("vec_id") =!= queryId)
      .select(col("vec_id"), col("bucket"),
        cosine(col("embedding"), col("q_emb")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** All probe-bucket XOR masks within hamming distance 2 of 0 —
    * shared by the LSH query and its SQL oracle so they can't drift. */
  private[operators] def probeMasks(nPlanes: Int): Seq[Int] =
    Seq(0) ++ (0 until nPlanes).map(1 << _) ++
      (for (p <- 0 until nPlanes; r <- p + 1 until nPlanes)
        yield (1 << p) | (1 << r))

  /** The LSH plan as DuckDB SQL: the deterministic hyperplanes are
    * embedded as exact double literals (Double.toString round-trips),
    * so bucket signs — and hence the candidate set, the cosines and
    * the top-k — are bit-identical cross-engine. */
  val lshSql: String = {
    val (nPlanes, dim) = (6, 64)
    def planeList(p: Int): String =
      plane(p, dim).map(_.toString).mkString("[", ", ", "]")
    val bucketExpr = (0 until nPlanes).map { p =>
      s"(CASE WHEN ${dotSqlOf("embedding", planeList(p))} >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("\n  + ")
    val masks = probeMasks(nPlanes).mkString("[", ", ", "]")
    s"""WITH b AS (SELECT vec_id, embedding, $bucketExpr AS bucket FROM embeddings),
       |q AS (SELECT bucket AS qb, embedding AS q_emb FROM b WHERE vec_id = $AuditQueryId),
       |probes AS (SELECT xor(qb, m) AS pb, q_emb FROM q, unnest($masks) AS t(m))
       |SELECT vec_id, CAST(bucket AS INT) AS bucket, cos FROM (
       |  SELECT b.vec_id, b.bucket, ${cosOf("b.embedding", "p.q_emb")} AS cos
       |  FROM b JOIN probes p ON b.bucket = p.pb
       |  WHERE b.vec_id <> $AuditQueryId)
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
  }

  /** IVF-style ANN: coarse cells from a deterministic centroid sample
    * (vec_id % 50 == 0), assign by max cosine, probe the query's
    * nprobe=2 nearest cells. Oracle-exact: the centroid sample and
    * both argmax tie-breaks are deterministic, so [[ivfSql]] replays
    * the whole plan. */
  def ivf(s: SparkSession, d: String, queryId: Long = AuditQueryId, k: Int = 10,
      nprobe: Int = Nprobe): DataFrame = {
    // norms precomputed ONCE per vector/centroid: inlining cosine()
    // into the n×(n/50) assignment stage would re-fold each vector's
    // own norm per centroid (3× the flops of the dominant stage).
    // dot/sqrt(n2v·n2c) is the identical IEEE tree, so bit-equality
    // with ivfSql's per-pair cosine holds.
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"))
    val cents = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("n2").as("c_n2"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_cos").desc, col("c_id"))
    val assigned = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("c_id"),
        (dotD(col("embedding"), col("c_emb")) /
          sqrt(col("n2") * col("c_n2"))).as("c_cos"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("c_id").as("cell"))
    val qCells = assigned.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
      .crossJoin(broadcast(cents))
      .select(col("q_emb"), col("c_id"),
        cosine(col("q_emb"), col("c_emb")).as("c_cos"))
      .orderBy(col("c_cos").desc, col("c_id"))
      .limit(nprobe)
      .select(col("c_id").as("probe_cell"), col("q_emb"))
    assigned.join(broadcast(qCells), col("cell") === col("probe_cell") &&
        col("vec_id") =!= queryId)
      .select(col("vec_id"), col("cell"),
        cosine(col("embedding"), col("q_emb")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  val ivfSql: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |cents AS (SELECT vec_id AS c_id, embedding AS c_emb FROM e WHERE vec_id % 50 = 0),
       |assigned AS (
       |  SELECT vec_id, embedding, c_id AS cell FROM (
       |    SELECT e.vec_id, e.embedding, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosOf("e.embedding", "c.c_emb")} DESC, c.c_id) AS rn
       |    FROM e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |qcells AS (
       |  SELECT c_id AS probe_cell, q_emb FROM (
       |    SELECT c.c_id, q.q_emb, ${cosOf("q.q_emb", "c.c_emb")} AS c_cos
       |    FROM (SELECT embedding AS q_emb FROM assigned WHERE vec_id = $AuditQueryId) q
       |    CROSS JOIN cents c)
       |  ORDER BY c_cos DESC, c_id LIMIT $Nprobe)
       |SELECT a.vec_id, a.cell, ${cosOf("a.embedding", "q.q_emb")} AS cos
       |FROM assigned a JOIN qcells q ON a.cell = q.probe_cell AND a.vec_id <> $AuditQueryId
       |ORDER BY cos DESC, a.vec_id LIMIT 10""".stripMargin

  /** Range search: every vector within cosine ≥ `t` of the query — the
    * radius-query counterpart of top-k (dedup and near-dup harvesting
    * use this shape: "give me EVERYTHING closer than t", unbounded k).
    * One narrow pass; the filter is applied before any ordering, so
    * only in-radius rows reach the (small) final sort. */
  def rangeSearch(s: SparkSession, d: String, queryId: Long = AuditQueryId,
      t: Double = 0.25): DataFrame =
    cosineToQuery(s, d, queryId)
      .filter(col("cos") >= t)
      .orderBy(col("vec_id"))

  val rangeSearchSql: String =
    s"""SELECT vec_id, cos FROM (
       |  SELECT vec_id, ${cosOf("embedding", "q_emb")} AS cos
       |  FROM embeddings
       |  CROSS JOIN (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $AuditQueryId)
       |  WHERE vec_id <> $AuditQueryId)
       |WHERE cos >= 0.25
       |ORDER BY vec_id""".stripMargin

  /** Product-quantization ANN: each vector is encoded as `m` sub-codes
    * (nearest of `ksub` per-subspace centroids from a deterministic
    * training sample), and the query ranks by the ADC approximation —
    * the sum over subspaces of ‖q_sub − c_code‖².
    *
    * The scale story PQ exists for: after encoding, ranking touches
    * only (vec_id, sub, code) rows joined to a broadcast m×ksub
    * distance table — the raw vectors are read once at encode time and
    * never shuffled. At 100 TB the codes are m·log₂(ksub) bits/vector
    * (here 16×4 bits = 8 bytes) against 256 bytes of floats.
    * Oracle-exact ([[pqSql]]): every stage is deterministic — seeded
    * codebook, floor-quantised Lloyd means and ADC totals (exact
    * integer arithmetic, engine-independent), float subtraction
    * mirrored exactly. */
  // PQ quantizes for SQUARED L2, but the exact baseline ranks by
  // cosine — on unnormalized vectors the two metrics disagree and no
  // codebook can fix that. Normalize first (guaranteed, not assumed):
  // on unit vectors ‖a−b‖² = 2−2·cos(a,b), so the ADC ranking
  // approximates the cosine ranking directly.
  private[operators] def normalizedEmb(s: SparkSession, d: String): DataFrame =
    normalizeVecs(embeddings(s, d))

  /** L2-normalize a (vec_id, embedding) frame — ONE expression shared
    * by the corpus reader above and [[AnnIndex.append]]'s batch path,
    * so appended vectors normalize bit-identically to built ones. */
  private[operators] def normalizeVecs(df: DataFrame): DataFrame =
    df.withColumn("n2", sqrt(greatest(
        dotD(col("embedding"), col("embedding")), lit(1e-30))))
      .select(col("vec_id"),
        transform(col("embedding"), x => (x / col("n2")).cast("float"))
          .as("embedding"))

  private[operators] def subvecsOf(df: DataFrame, vecCol: String, m: Int,
      subLen: Int): DataFrame = df
    .select(col("*"), explode(sequence(lit(0), lit(m - 1))).as("sub"))
    .withColumn("sv", slice(col(vecCol), col("sub") * subLen + 1, lit(subLen)))

  /** Squared L2 — float subtraction, double square+sum (the IEEE op
    * sequence the d2Of oracle fragment mirrors exactly). Native
    * codegen'd loop since r13 ([[graft.functions.SqDiff]]); previously
    * `dotD(zip_with(a,b,(x,y)=>x-y), same)` — identical per-element
    * ops, but the interpreted zip_with allocated a diff array per
    * (row × centroid) evaluation and dominated assignment-stage CPU. */
  private[operators] def sqDiff(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.sqDiff(a, b)

  /** PQ codebook shared by [[pq]] and [[ivfpq]]: seed with the ksub
    * first vectors' subvectors, then `lloydIters` Lloyd refinements
    * over a deterministic 256-vector training sample (assign →
    * per-(sub,code) element-wise mean). The refined centroids
    * approximate the sample distribution instead of echoing 16
    * arbitrary vectors — measurably better ADC recall. Means
    * accumulate in DECIMAL (fixed per-element quantization) and round
    * to FLOAT, so the codebook — and hence the output — is
    * bit-deterministic across runs/partitionings. The returned
    * codebook is checkpoint-pinned and result-feeding: the harness
    * sweep frees it post-action (Checkpoints policy). */
  private[operators] def pqCodebook(e: DataFrame, m: Int, subLen: Int, ksub: Int,
      lloydIters: Int): DataFrame = {
    // Codebook training on DRIVER-literal centroids (r13 optimization,
    // the kmeansAssign pattern): the codebook is bounded by contract
    // (m × ksub = 256 subvectors of subLen floats), so each Lloyd
    // round collects the refined means (same floor-quantised DECIMAL
    // aggregate) and re-enters the next round as a [sub][code] array
    // literal — assignment becomes a narrow argmin projection (codes
    // ascending, array_position returns the FIRST index attaining
    // array_min = the former (cd2, code) window tie-break) instead of
    // a broadcast join + per-(vec_id, sub) window SHUFFLE, and the two
    // per-round localCheckpoint actions disappear. Same float op
    // sequence per element (sqDiff), bit-identical codebooks — the PQ
    // training-replay oracles and AnnIndexSpec's served==inline pin
    // hold unchanged.
    val seedRows = subvecsOf(e.filter(col("vec_id") < ksub), "embedding", m, subLen)
      .select(col("sub"), col("vec_id").cast("int").as("code"), col("sv"))
      .collect()
    // seed codes = the vec_ids < ksub actually present (same set for
    // every sub; possibly < ksub on a sparse-id corpus, as before)
    val codes: IndexedSeq[Int] =
      seedRows.map(_.getInt(1)).distinct.sorted.toIndexedSeq
    var cents: Map[(Int, Int), IndexedSeq[Float]] = seedRows.map(r =>
      (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toIndexedSeq).toMap
    val train = subvecsOf(e.filter(col("vec_id") < 256), "embedding", m, subLen)
    val codesLit = typedLit(codes)
    for (_ <- 1 to lloydIters) {
      val cube = typedLit((0 until m).map(sub => codes.map(c => cents((sub, c)))))
      val assign = train
        .withColumn("d2s", transform(sequence(lit(1), lit(codes.size)),
          j => sqDiff(col("sv"),
            element_at(element_at(cube, col("sub") + 1), j))))
        .select(col("sub"),
          element_at(codesLit,
            array_position(col("d2s"), array_min(col("d2s"))).cast("int"))
            .as("code"),
          col("sv"))
      val refined = assign
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("sub"), col("code"), col("dim"))
        // floor-quantised mean (the Frags.davg9 idiom): exact integer
        // sum, then two double divisions — identical on every engine,
        // unlike decimal division whose derived scale/rounding is
        // engine-specific (this is what makes the PQ oracle portable)
        .agg((sum(floor(col("x") * 1e7).cast("decimal(28,0)")).cast("double")
          / 1e7 / count(lit(1))).cast("float").as("m"))
        .groupBy(col("sub"), col("code"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("sub"), col("code"),
          transform(col("dm"), p => p.getField("m")).as("c_new"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toIndexedSeq)
        .toMap
      // a code that attracted no training subvector keeps its previous
      // centroid — the m×ksub codebook must never silently shrink
      cents = cents.map { case (sc, old) => sc -> refined.getOrElse(sc, old) }
    }
    // the trained codebook as a small local frame — callers broadcast-
    // join it on (sub[, code]) exactly as before
    val spark = e.sparkSession
    import spark.implicits._
    cents.toSeq.sortBy { case ((sub, code), _) => (sub, code) }
      .map { case ((sub, code), sv) => (sub, code, sv) }
      .toDF("sub", "code", "c_sv")
  }

  def pq(s: SparkSession, d: String, queryId: Long = AuditQueryId, k: Int = 10,
      m: Int = 16, ksub: Int = 16, lloydIters: Int = 1): DataFrame = {
    // Defaults from a measured sweep on this corpus (recall@10 vs
    // exact, emitted per verify run in ann_recall.json): m=16/ksub=16
    // gives 3-5/10 across SFs — the ceiling for ADC over structureless
    // random embeddings, where quantization error is irreducible noise
    // (clustered production embeddings are what PQ exploits). ONE
    // Lloyd iteration: on random data further mean-updates shrink
    // centroids toward the global mean and flatten the ADC table
    // (m=8/iters=2 measured 0/10).
    val e = normalizedEmb(s, d)
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subLen = dim / m
    val cents = pqCodebook(e, m, subLen, ksub, lloydIters)
    // encode: nearest sub-centroid per (vector, subspace)
    val wCode = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("cd2"), col("code"))
    val codes = subvecsOf(e, "embedding", m, subLen)
      .join(broadcast(cents), "sub")
      .select(col("vec_id"), col("sub"), col("code"),
        sqDiff(col("sv"), col("c_sv")).as("cd2"))
      .withColumn("rn", row_number().over(wCode))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("code"))
    // ADC table: query-subvector distance to every sub-centroid
    val dt = subvecsOf(e.filter(col("vec_id") === queryId), "embedding", m, subLen)
      .join(broadcast(cents), "sub")
      .select(col("sub"), col("code"), sqDiff(col("sv"), col("c_sv")).as("qd2"))
    codes.join(broadcast(dt), Seq("sub", "code"))
      .filter(col("vec_id") =!= queryId)
      .groupBy(col("vec_id"))
      // floor-quantised ADC total: 16 doubles summed as exact integers
      // so the result is independent of partial-aggregation order
      // (a raw double sum can differ in the last ulp across engines
      // and partitionings, flipping near-tied ranks)
      .agg((sum(floor(col("qd2") * 1e12).cast("decimal(28,0)"))
        .cast("double") / 1e12).as("adc_dist2"))
      .orderBy(col("adc_dist2"), col("vec_id"))
      .limit(k)
  }

  /** `ann_ivfpq` — the composed production ANN shape (IVF-PQ, the
    * architecture behind FAISS-style billion-vector indices): IVF
    * coarse cells prune the corpus to the query's nprobe cells, PQ ADC
    * ranks ONLY the surviving candidates. At 100 TB the two compose
    * multiplicatively: the cell filter drops (1 − nprobe/C) of the
    * corpus before any per-vector work, and the survivors are ranked
    * from 8-byte codes against a broadcast m×ksub distance table —
    * full vectors are never shuffled at query time. The cell filter is
    * pushed BEFORE encoding (only probed cells' codes are computed
    * here; a stored index would precompute all codes — the query-side
    * join shape is identical). Coarse assignment runs on the same
    * normalized vectors as the codebook, so L2 cell order == cosine
    * cell order. Oracle-exact like [[pq]]: deterministic coarse sample
    * (vec_id % 50), seeded codebook, floor-quantised Lloyd means and
    * ADC totals, float ops mirrored exactly in [[ivfpqSql]]. */
  def ivfpq(s: SparkSession, d: String, queryId: Long = AuditQueryId, k: Int = 10,
      nprobe: Int = Nprobe, m: Int = 16, ksub: Int = 16): DataFrame = {
    val e = normalizedEmb(s, d)
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subLen = dim / m
    val cents0 = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("cd2"), col("c_id"))
    val assigned = e.crossJoin(broadcast(cents0))
      .select(col("vec_id"), col("embedding"), col("c_id"),
        sqDiff(col("embedding"), col("c_emb")).as("cd2"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("c_id").as("cell"))
    val qCells = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
      .crossJoin(broadcast(cents0))
      .select(col("c_id"), sqDiff(col("q_emb"), col("c_emb")).as("qcd2"))
      .orderBy(col("qcd2"), col("c_id"))
      .limit(nprobe)
      .select(col("c_id").as("probe_cell"))
    val cents = pqCodebook(e, m, subLen, ksub, 1)
    val cand = assigned.join(broadcast(qCells), col("cell") === col("probe_cell"))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("embedding"), col("cell"))
    val wCode = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("cd2"), col("code"))
    val codes = subvecsOf(cand, "embedding", m, subLen)
      .join(broadcast(cents), "sub")
      .select(col("vec_id"), col("cell"), col("sub"), col("code"),
        sqDiff(col("sv"), col("c_sv")).as("cd2"))
      .withColumn("rn", row_number().over(wCode))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"), col("sub"), col("code"))
    val dt = subvecsOf(e.filter(col("vec_id") === queryId), "embedding", m, subLen)
      .join(broadcast(cents), "sub")
      .select(col("sub"), col("code"), sqDiff(col("sv"), col("c_sv")).as("qd2"))
    codes.join(broadcast(dt), Seq("sub", "code"))
      .groupBy(col("vec_id"), col("cell"))
      .agg((sum(floor(col("qd2") * 1e12).cast("decimal(28,0)"))
        .cast("double") / 1e12).as("adc_dist2"))
      .orderBy(col("adc_dist2"), col("vec_id"))
      .limit(k)
  }

  /** Squared-L2 between two float lists with the subtraction done in
    * FLOAT then squared in DOUBLE — the exact op sequence of
    * `zip_with(a, b, x - y)` over `array<float>` followed by dotD. */
  private[operators] def d2Of(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b),
       |      z -> CAST(CAST(CAST(z[1] AS FLOAT) - CAST(z[2] AS FLOAT) AS DOUBLE)
       |           * CAST(CAST(z[1] AS FLOAT) - CAST(z[2] AS FLOAT) AS DOUBLE) AS DOUBLE)), (p, q) -> p + q)""".stripMargin

  /** `ann_pq_rerank` — PQ candidates + exact re-rank, the standard
    * two-stage production ANN answer shape: ADC ranks the whole corpus
    * from 8-byte codes (cheap, approximate), the top-`c` candidates are
    * then re-scored with the EXACT cosine against the raw vectors, and
    * the final top-k is exact-within-candidates. Buys back most of the
    * recall ADC loses to quantization for the price of `c` exact
    * distance evaluations (c=50 here; recall@10 measured per verify
    * run in ann_recall.json alongside the un-reranked pq). At 100 TB
    * the re-rank stage fetches exactly `c` full vectors by id — a
    * broadcast-join point lookup, not a scan; everything before it
    * ships codes only. Oracle replays the ADC CTE chain (shared
    * verbatim with [[pqSql]] via pqCtes) + the bruteForce cosine fold. */
  def pqRerank(s: SparkSession, d: String, queryId: Long = AuditQueryId, k: Int = 10,
      c: Int = RerankC): DataFrame =
    exactRerank(s, d, queryId, k, pq(s, d, queryId, k = c).select(col("vec_id")))

  /** `ann_ivfpq_rerank` — the COMPLETE production pipeline: IVF cells
    * prune the corpus, PQ ADC ranks the survivors from codes, exact
    * cosine re-ranks the top-`c` — i.e. [[ivfpq]] + the [[pqRerank]]
    * refinement stage. Recall is bounded by cell recall (candidates
    * only come from the nprobe probed cells), which is exactly the
    * production trade-off the nprobe knob tunes. Oracle shares the
    * full IVF+PQ CTE chain with [[ivfpqSql]] (ivfpqCtes). */
  def ivfpqRerank(s: SparkSession, d: String, queryId: Long = AuditQueryId, k: Int = 10,
      c: Int = RerankC): DataFrame =
    exactRerank(s, d, queryId, k, ivfpq(s, d, queryId, k = c).select(col("vec_id")))

  /** Shared exact re-rank stage: score `cand` (a small vec_id list)
    * against the query with the IDENTICAL expression bruteForce uses
    * (parity with the exact baseline is what makes the oracles
    * bit-exact); candidates broadcast into an id lookup — a point
    * fetch of |cand| full vectors, never a scan. */
  private[operators] def exactRerank(s: SparkSession, d: String, queryId: Long,
      k: Int, cand: DataFrame): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("n2").as("q_n2"))
    e.join(broadcast(cand), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), (dotD(col("embedding"), col("q_emb")) /
        sqrt(col("n2") * col("q_n2"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** The PQ training + encode + ADC chain as DuckDB CTEs (mirrors
    * pq()'s defaults: m=16 subspaces of 4 dims, ksub=16, one Lloyd
    * iteration) — shared by [[pqSql]] and [[pqRerankSql]] so the two
    * oracles can never drift apart. */
  /** Shared PQ-oracle fragments (private[operators] — AnnIndex's
    * statsSql composes the SAME training chain; one definition, so a
    * constant or quantisation change cannot desynchronize the
    * ann_index_build oracle from the pq/ivfpq oracles — the
    * ShPairsCte discipline from Dedup). */
  private[operators] val PqEnCte: String =
    s"""en AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE)
       |      / SQRT(GREATEST(${dotSqlOf("embedding", "embedding")}, 1e-30)) AS FLOAT)) AS embedding
       |  FROM embeddings)""".stripMargin

  private[operators] val PqCents0Cte: String =
    "cents0 AS (SELECT vec_id AS c_id, embedding AS c_emb FROM en WHERE vec_id % 50 = 0)"

  /** subs → sv → seed → train → assign → refined → cents: the whole
    * codebook-training replay (m=16 subspaces of 4 dims, ksub=16,
    * 256-vector train sample, one floor-quantised Lloyd round). */
  private[operators] val PqTrainCtes: String = {
    val (m, subLen, ksub) = (16, 4, 16)
    s"""subs AS (SELECT unnest(generate_series(0, ${m - 1})) AS sub),
       |sv AS (
       |  SELECT vec_id, sub, embedding[(sub*$subLen+1):(sub*$subLen+$subLen)] AS sv
       |  FROM en CROSS JOIN subs),
       |seed AS (
       |  SELECT sub, CAST(vec_id AS INT) AS code, sv AS c_sv FROM sv WHERE vec_id < $ksub),
       |train AS (SELECT * FROM sv WHERE vec_id < 256),
       |assign AS (
       |  SELECT vec_id, sub, code, sv FROM (
       |    SELECT t.vec_id, t.sub, s.code, t.sv,
       |      ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.sub
       |        ORDER BY ${d2Of("t.sv", "s.c_sv")}, s.code) AS rn
       |    FROM train t JOIN seed s USING (sub))
       |  WHERE rn = 1),
       |refined AS (
       |  SELECT sub, code, list(m ORDER BY dim) AS c_new FROM (
       |    SELECT sub, code, dim,
       |      CAST(CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1e7) AS DECIMAL(28,0))) AS DOUBLE)
       |        / 1e7 / COUNT(*) AS FLOAT) AS m
       |    FROM (SELECT sub, code, unnest(sv) AS x,
       |            generate_subscripts(sv, 1) AS dim FROM assign)
       |    GROUP BY sub, code, dim)
       |  GROUP BY sub, code),
       |cents AS (
       |  SELECT s.sub, s.code, COALESCE(r.c_new, s.c_sv) AS c_sv
       |  FROM seed s LEFT JOIN refined r ON s.sub = r.sub AND s.code = r.code)""".stripMargin
  }

  private val pqCtes: String =
    s"WITH $PqEnCte,\n$PqTrainCtes,\n" +
    s"""codes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT v.vec_id, v.sub, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
       |        ORDER BY ${d2Of("v.sv", "c.c_sv")}, c.code) AS rn
       |    FROM sv v JOIN cents c USING (sub))
       |  WHERE rn = 1),
       |dt AS (
       |  SELECT q.sub, c.code, ${d2Of("q.sv", "c.c_sv")} AS qd2
       |  FROM (SELECT sub, sv FROM sv WHERE vec_id = $AuditQueryId) q JOIN cents c USING (sub)),
       |adc AS (
       |  SELECT vec_id,
       |    CAST(SUM(CAST(FLOOR(qd2 * 1e12) AS DECIMAL(28,0))) AS DOUBLE) / 1e12 AS adc_dist2
       |  FROM codes JOIN dt USING (sub, code)
       |  WHERE vec_id <> $AuditQueryId
       |  GROUP BY vec_id)""".stripMargin

  val pqSql: String =
    s"""$pqCtes
       |SELECT vec_id, adc_dist2 FROM adc
       |ORDER BY adc_dist2, vec_id LIMIT 10""".stripMargin

  val pqRerankSql: String =
    s"""$pqCtes,
       |cand AS (SELECT vec_id FROM adc ORDER BY adc_dist2, vec_id LIMIT $RerankC)
       |SELECT e.vec_id, ${cosOf("e.embedding", "q.q_emb")} AS cos
       |FROM embeddings e
       |JOIN cand USING (vec_id)
       |CROSS JOIN (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $AuditQueryId) q
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  /** The composed IVF-PQ plan as DuckDB CTEs: the coarse-cell CTEs
    * (deterministic vec_id%50 sample, L2 assignment on the normalized
    * vectors) prune to the query's 2 probe cells, then the exact
    * [[pqSql]] codebook CTEs rank only the candidates. Shared by
    * [[ivfpqSql]] and [[ivfpqRerankSql]]. */
  private[operators] val ivfpqCtes: String = {
    val nprobe = Nprobe
    s"WITH $PqEnCte,\n$PqCents0Cte,\n" +
    s"""assigned AS (
       |  SELECT vec_id, embedding, c_id AS cell FROM (
       |    SELECT e.vec_id, e.embedding, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2Of("e.embedding", "c.c_emb")}, c.c_id) AS rn
       |    FROM en e CROSS JOIN cents0 c)
       |  WHERE rn = 1),
       |qcells AS (
       |  SELECT c_id AS probe_cell FROM (
       |    SELECT c.c_id, ${d2Of("q.q_emb", "c.c_emb")} AS qcd2
       |    FROM (SELECT embedding AS q_emb FROM en WHERE vec_id = $AuditQueryId) q
       |    CROSS JOIN cents0 c)
       |  ORDER BY qcd2, c_id LIMIT $nprobe),""".stripMargin +
    s"\n$PqTrainCtes,\n" +
    s"""cand AS (
       |  SELECT a.vec_id, a.cell FROM assigned a
       |  JOIN qcells q ON a.cell = q.probe_cell
       |  WHERE a.vec_id <> $AuditQueryId),
       |codes AS (
       |  SELECT vec_id, cell, sub, code FROM (
       |    SELECT v.vec_id, cd.cell, v.sub, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
       |        ORDER BY ${d2Of("v.sv", "c.c_sv")}, c.code) AS rn
       |    FROM sv v JOIN cand cd USING (vec_id) JOIN cents c USING (sub))
       |  WHERE rn = 1),
       |dt AS (
       |  SELECT q.sub, c.code, ${d2Of("q.sv", "c.c_sv")} AS qd2
       |  FROM (SELECT sub, sv FROM sv WHERE vec_id = $AuditQueryId) q JOIN cents c USING (sub)),
       |adcq AS (
       |  SELECT vec_id, cell,
       |    CAST(SUM(CAST(FLOOR(qd2 * 1e12) AS DECIMAL(28,0))) AS DOUBLE) / 1e12 AS adc_dist2
       |  FROM codes JOIN dt USING (sub, code)
       |  GROUP BY vec_id, cell)""".stripMargin
  }

  val ivfpqSql: String =
    s"""$ivfpqCtes
       |SELECT vec_id, cell, adc_dist2 FROM adcq
       |ORDER BY adc_dist2, vec_id LIMIT 10""".stripMargin

  /** The ADC shortlist + exact-rerank serve chain as SQL fragments,
    * shared by [[ivfpqRerankSql]] and AnnIndex.recallAuditSql (the
    * ivfpqCtes/cosOf discipline: ONE definition, so a tiebreak or
    * shortlist change cannot leave the recall audit grading a stale
    * serve chain). */
  private[operators] val Cand50Cte: String =
    s"cand50 AS (SELECT vec_id FROM adcq ORDER BY adc_dist2, vec_id LIMIT $RerankC)"
  private[operators] def servedTopKSql(k: Int): String =
    s"""SELECT e.vec_id, ${cosOf("e.embedding", "q.q_emb")} AS cos
       |FROM embeddings e
       |JOIN cand50 USING (vec_id)
       |CROSS JOIN (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $AuditQueryId) q
       |ORDER BY cos DESC, vec_id LIMIT $k""".stripMargin

  val ivfpqRerankSql: String =
    s"""$ivfpqCtes,
       |$Cand50Cte
       |${servedTopKSql(10)}""".stripMargin

  // ---- embed_kmeans: whole-vector Lloyd clustering ----------------------

  /** `embed_kmeans` — semantic clustering of the embedding corpus: k=8
    * whole-vector centroids, seeded deterministically (vec_id < k) and
    * refined by `iters` Lloyd rounds, then per-cluster balance stats
    * (size, quantised inertia, id range). The cluster-balanced-sampling
    * / semantic-grouping stage of a training-data pipeline — IVF uses
    * the same assignment shape for search; this surfaces the CLUSTERS
    * as the product.
    *
    * Oracle-exact for the same reasons as PQ: deterministic seed,
    * floor-quantised DECIMAL-summed Lloyd means rounded to FLOAT, and
    * floor-quantised inertia sums — every float op is a fixed IEEE
    * sequence mirrored in [[kmeansSql]]'s unrolled CTEs.
    *
    * 100 TB: each round is one broadcast of k centroids + a narrow
    * n×k distance pass + a (c, dim)-keyed mean aggregation (≤ k·dim
    * rows); superseded centroid checkpoints are released in-loop. */
  def kmeans(s: SparkSession, d: String, k: Int = 8, iters: Int = 2): DataFrame =
    kmeansAssign(s, d, k, iters)
      .groupBy(col("c"))
      .agg(count(lit(1)).as("n_vecs"),
        // quantised inertia: order-independent exact integer sum
        (sum(floor(col("cd2") * 1e9).cast("decimal(28,0)")).cast("double")
          / 1e9).as("inertia"),
        min(col("vec_id")).as("min_vec"),
        max(col("vec_id")).as("max_vec"))
      .withColumnRenamed("c", "cluster")
      .orderBy(col("cluster"))

  /** The final Lloyd assignment (vec_id, embedding, c, cd2) — the
    * shared clustering pass behind [[kmeans]] (per-cluster stats),
    * [[semanticDedup]] (cluster-local pair generation) and
    * [[sampleClusterBalanced]] (per-cluster quotas). One definition of
    * the seed, the quantised-mean refinement and the assignment
    * tie-break, so the three oracles can share one CTE replay
    * ([[KmeansAssignCtes]]) without drifting. */
  /** Corpus size past which Lloyd TRAINING runs on a deterministic
    * sample ([[kmeansAssign]]'s minibatch gate): below it the exact
    * full-corpus rounds stay (the oracle-replayed shape at every
    * gated SF); past it each round scans the sample, and only the
    * final assignment pays one full pass — training cost stops
    * growing with the corpus (the r12 verdict's #5: the kmeans family
    * was the last linear-in-data TRAINING cost). 20k clears every
    * oracle-gated corpus with margin — the largest is the banded
    * audit's ~[[AmpTargetRows]]=8000-row amplification, whose oracle
    * replays EXACT training — while the ×10/×100 sweeps (20k/200k
    * vectors) cross it. */
  private[graft] val MinibatchGate = 20000L

  /** Sampled-training target size: the modulus self-tunes so the
    * training slice stays ~this many vectors at any corpus size —
    * ≥16 training points per centroid at the k=1024 adaptive cap. */
  private[graft] val MinibatchTrainTarget = 16384L

  private[graft] def kmeansAssign(s: SparkSession, d: String,
      k: Int, iters: Int, forceMinibatch: Boolean = false,
      trainSampleMod: Int = -1): DataFrame = {
    // the assignment pass is compute-dense (k × 64-dim distances per
    // row) at trivial byte size, so a single-file corpus scans as 1-2
    // partitions and every pass runs near-serial (measured 4.5 s → 0.6
    // s at 32 tasks on the 8000-row audit corpus). Fan the scan out to
    // core count when it under-parallelizes; identity at real scale,
    // where the scan already exceeds it. Explicit-numPartitions
    // exchanges are honored by AQE, never re-coalesced.
    val raw = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val sp = s.sparkContext.defaultParallelism
    val e = if (raw.rdd.getNumPartitions < sp) raw.repartition(sp) else raw
    // minibatch gate (footer count — no job): training rounds iterate
    // the SAMPLE; the deterministic vec_id stride keeps the slice
    // uniform across any partitioning and any amplification offset
    val n = graft.Tables.footerRowCount(s, d, "embeddings")
    val minibatch = forceMinibatch || n >= MinibatchGate
    val trainE = if (!minibatch) e else {
      val sm = if (trainSampleMod > 0) trainSampleMod.toLong
        else math.max(2L, n / MinibatchTrainTarget)
      System.err.println(
        s"[graft] kmeans minibatch training: stride 1/$sm of $n vectors")
      e.filter(pmod(col("vec_id"), lit(sm)) === 0)
    }
    // Centroids live on the DRIVER between rounds (r13 optimization):
    // a bounded table — k ≤ 4096 by [[semanticKFor]]'s cap, ≤ ~1 MB of
    // floats — collected once per round instead of localCheckpointed.
    // The assignment becomes a NARROW projection (argmin over a
    // literal centroid array) in place of the former broadcast-build +
    // n×k crossJoin + per-vec_id window SHUFFLE: same float ops in the
    // same order (sqDiff per centroid), same (cd2, c) tie-break
    // (centroids ordered by c ascending, array_position returns the
    // FIRST index attaining array_min), so assignments — and the
    // oracle-replayed means — are bit-identical; measured 3.2 s → sub-
    // second construction for embed_kmeans at sf0.1.
    // seeds from the FULL corpus (vec_id < k) in both modes, so the
    // sampled path trains from the exact path's starting point
    var cents: Seq[(Int, Seq[Float])] = e.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("c"), col("embedding"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toIndexedSeq)
      .sortBy(_._1).toIndexedSeq
    def assignedOf(src: DataFrame) = {
      // one codegen'd kernel per row: the former transform(1..k, i ->
      // sq_diff(emb, element_at(cLit, i))) + array_min/array_position
      // chain evaluated the lambda INTERPRETED and unboxed the k×dim
      // literal per row — the largest residual term of
      // dedup_semantic_banded (assignment 1.9 s of 3.6,
      // OPTIMIZATION_r14.md). CentroidArgmin reproduces the exact
      // fold: SqDiff per centroid in c-order (ragged -> NULL, skipped),
      // first index attaining the compareDoubles minimum — so
      // assignments and cd2 are bit-identical (PropertySpec pins the
      // kernel against the reconstructed HOF chain, edge rows
      // included).
      val asg = graft.functions.VectorExpressions.centroidArgmin(
        col("embedding"), cents.map(_._1), cents.map(_._2))
      src.select(col("vec_id"), col("embedding"),
        asg.getField("c").as("c"), asg.getField("cd2").as("cd2"))
    }
    for (_ <- 1 to iters) {
      val refined = assignedOf(trainE)
        .select(col("c"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("c"), col("dim"))
        // floor-quantised mean (the PQ idiom): exact integer sum, two
        // double divisions, FLOAT round — engine-order-independent
        .agg((sum(floor(col("x") * 1e7).cast("decimal(28,0)")).cast("double")
          / 1e7 / count(lit(1))).cast("float").as("m"))
        .groupBy(col("c"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("c"), transform(col("dm"), p => p.getField("m")).as("c_new"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1).toIndexedSeq)
        .toMap
      // an empty cluster keeps its previous centroid (k never shrinks)
      cents = cents.map { case (c, old) => c -> refined.getOrElse(c, old) }
    }
    assignedOf(e)
  }

  /** The k-means training + final-assignment pipeline as DuckDB CTEs
    * ending in `fin` (vec_id, embedding, c, cd2) — shared verbatim by
    * [[kmeansSql]], [[semanticDedupSql]] and [[sampleClusterBalancedSql]]
    * (the ShPairsCte discipline: one replay of the training chain).
    * MATERIALIZED: each round's centroids are referenced twice and
    * DuckDB inlines by default. */
  private[graft] val KmeansAssignCtes: String = kmeansAssignCtes(8, 2)

  /** [[KmeansAssignCtes]] with (k, iters, source-relation) free — the
    * k=8 / embeddings instance above serves every gated-SF query; the
    * banded audit replays k=32 over the amplified corpus. */
  private[graft] def kmeansAssignCtes(k: Int, iters: Int,
      eSql: String = "SELECT vec_id, embedding FROM embeddings"): String = {
    def assignFrom(cte: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT vec_id, embedding, c, cd2 FROM (
         |    SELECT e.vec_id, e.embedding, c.c,
         |      ${d2Of("e.embedding", "c.c_emb")} AS cd2,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${d2Of("e.embedding", "c.c_emb")}, c.c) AS rn
         |    FROM e CROSS JOIN $cte c)
         |  WHERE rn = 1)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""${assignFrom(s"c${i - 1}", s"a$i")},
         |r$i AS MATERIALIZED (
         |  SELECT c, list(m ORDER BY dim) AS c_new FROM (
         |    SELECT c, dim,
         |      CAST(CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1e7) AS DECIMAL(28,0))) AS DOUBLE)
         |        / 1e7 / COUNT(*) AS FLOAT) AS m
         |    FROM (SELECT c, unnest(embedding) AS x,
         |            generate_subscripts(embedding, 1) AS dim FROM a$i)
         |    GROUP BY c, dim)
         |  GROUP BY c),
         |c$i AS MATERIALIZED (
         |  SELECT p.c, COALESCE(r.c_new, p.c_emb) AS c_emb
         |  FROM c${i - 1} p LEFT JOIN r$i r ON p.c = r.c)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($eSql),
       |c0 AS MATERIALIZED (
       |  SELECT CAST(vec_id AS INT) AS c, embedding AS c_emb FROM e WHERE vec_id < $k),
       |$rounds,
       |${assignFrom(s"c$iters", "fin")}""".stripMargin
  }

  val kmeansSql: String =
    s"""$KmeansAssignCtes
       |SELECT c AS cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  CAST(SUM(CAST(FLOOR(cd2 * 1e9) AS DECIMAL(28,0))) AS DOUBLE) / 1e9 AS inertia,
       |  MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
       |FROM fin GROUP BY c ORDER BY cluster""".stripMargin

  // ---- dedup_semantic: SemDeDup-style cluster-local semantic dedup ------

  /** Cluster count for the semantic-dedup assignment, from the corpus
    * footer row count (the minhashBandRowsFor discipline — driver file
    * metadata, no count() job): k doubles per corpus-size doubling past
    * the gated 2000 vectors, holding the expected cluster population in
    * [125, 250] so the within-cluster pair space stays LINEAR in corpus
    * size (n²/k ≈ 125·n) — the published SemDeDup scale argument. Every
    * gated SF (500 / 500 / 2000 vectors) lands on k=8, so the fixed
    * k=8 oracle replay is exact there; PipelineOpsSpec pins the rule
    * across sizes.
    *
    * The rule caps at k=4096 (centroid broadcast ≤ ~1 MB at d=64; the
    * n×k assignment pass stays ≤ 4096 distance ops per vector): k ∝ n
    * makes ASSIGNMENT itself O(n·k) = O(n²/pop), the known SemDeDup
    * trade — measured at ×10 data as 2.04× (dedup_semantic) and 2.82×
    * (sample_cluster_balanced) wall with k firing 8→128
    * (scale_sweep_x10_r8.json), cheap at these scales but not free.
    * Past the cap
    * (n > ~1M vectors) cluster populations grow instead, and
    * [[semanticDedup]] switches its PAIR stage to dedup_embedding's
    * banded hyperplane candidates INSIDE each cluster (the
    * candidates→confirm machinery, bits re-anchored on the cluster
    * population) rather than growing k further — implemented r9,
    * A/B-pinned identical to the exact pass in PipelineOpsSpec and
    * measured in the ×10 sweep. */
  private[graft] def semanticKFor(n: Long): Int =
    if (n <= 2000) 8
    else {
      // clamp the exponent BEFORE shifting: 8 << 29 wraps Int negative
      // (a corpus past ~2.7e11 vectors would otherwise seed ZERO
      // centroids and silently return empty results)
      val e = math.ceil(math.log(n / 2000.0) / math.log(2.0)).toInt
      if (e >= 9) 4096 else 8 << e
    }

  /** `dedup_semantic` — SemDeDup (Abbas et al., arXiv:2303.09540)
    * re-expressed Spark-first: Lloyd-cluster the embedding corpus
    * ([[kmeansAssign]] — the same deterministic training as
    * embed_kmeans), then compare vectors ONLY against cluster-mates and
    * surface, for each vector, its strongest lower-id mate (the
    * retained representative if the vector were dropped). Output is
    * the top-`topN` most semantically redundant vectors with an
    * `is_dup` verdict at cosine ≥ `tau` — on this synthetic corpus the
    * pairwise-cos ceiling is ~0.6, so τ=0.45 marks the genuine
    * redundancy tail while the ranking itself stays non-degenerate.
    *
    * 100 TB: the cluster restriction is the whole point — pairs are
    * generated per-cluster (one shuffle keyed on c), and k self-tunes
    * with corpus size ([[semanticKFor]]) so the pair space grows
    * linearly, not quadratically; the shuffle carries (id, vector,
    * norm) once, never the O(n²) pair space. */
  def semanticDedup(s: SparkSession, d: String,
      tau: Double = 0.45, topN: Int = 50, kOverride: Int = -1,
      forceBanded: Boolean = false, bandedBits: Int = -1): DataFrame = {
    // kOverride > 0 forces a cluster count for A/B specs (the
    // minhashLsh bandRows precedent); production always self-tunes
    val nOpt = if (kOverride > 0 && !forceBanded) None
      else Some(graft.Tables.footerRowCount(s, d, "embeddings"))
    val k = if (kOverride > 0) kOverride else {
      val kk = semanticKFor(nOpt.get)
      System.err.println(s"[graft] dedup_semantic adaptive k=$kk (n=${nOpt.get})")
      kk
    }
    // past-cap trigger: semanticKFor stopped growing k (4096) and the
    // expected cluster population left the [125, 250] design band, so
    // the exact in-cluster self-join is no longer ~125·n pairs. Switch
    // the PAIR stage to banded-hyperplane candidates INSIDE each
    // cluster (dedup_embedding's candidates→confirm machinery, scoped
    // by the cluster key) — pair work returns to ~occupancy·n while
    // assignment stays at the capped k. Never fires at a gated SF
    // (k=8 there); forceBanded exists for the A/B spec + sweep.
    val banded = forceBanded ||
      nOpt.exists(n => k >= 4096 && n / k > 250)
    val a0 = kmeansAssign(s, d, k, 2)
      .select(col("vec_id"), col("embedding"), col("c"),
        norm2(col("embedding")).as("n2"))
    // banded path: the assigned frame feeds the signature projection
    // on BOTH self-join sides and the confirm's two vector lookups —
    // 4+ recomputes of the scan + argmin assignment otherwise. One
    // eager pin ((id, vector, c, n2) — a few MB at the audit's 8000
    // rows), swept by the harness post-action. The exact path keeps
    // the raw plan: its two consumers sit inside one join stage and
    // the pair join dominates regardless (r13 optimization).
    val a = if (banded) graft.Checkpoints.pin(a0) else a0
    val pairs = if (!banded) {
      a.as("x").join(a.as("y"),
          col("x.c") === col("y.c") && col("x.vec_id") < col("y.vec_id"))
        .select(col("y.vec_id").as("vec_id"), col("y.c").as("cluster"),
          col("x.vec_id").as("mate"),
          (dotD(col("x.embedding"), col("y.embedding")) /
            sqrt(col("x.n2") * col("y.n2"))).as("cos"))
    } else {
      // bits must clear log₂(bands)=6 with margin, NOT the corpus-wide
      // occupancy anchor: candidate work relative to the exact
      // in-cluster self-join is ~bands/2^bits (each band is an
      // independent chance for a RANDOM in-cluster pair to collide,
      // and in-cluster pairs are pre-correlated by the shared
      // centroid), so the first ×5 A/B at the 4-bit occupancy anchor
      // measured the banded path 2.7× SLOWER than exact (29.8 s vs
      // 11.1 s, scale_sweep_x5_r9). bits = max(9,
      // embeddingBitsFor(pop)) holds bands/2^bits ≤ 1/8 at any
      // population while the 64 independent bands keep P(miss) for a
      // production near-dup pair (cos ≥ 0.85, p = 1−θ/π ≈ 0.82 per
      // plane) at (1−0.82⁹)⁶⁴ ≈ 1e-4. Candidates shuffle only (ids,
      // band, sig); the confirm joins vectors back by id and reuses
      // the EXACT cosine expression tree of the exact path, so any
      // pair the bands surface scores bit-identically.
      val pop = math.max(1L, nOpt.get / k)
      val bits = if (bandedBits > 0) bandedBits
        else math.max(9, Dedup.embeddingBitsFor(pop))
      System.err.println(
        s"[graft] dedup_semantic banded in-cluster pairs: bits=$bits (pop=$pop)")
      // the signature projection is bands×bits (576) dot products per
      // row at few-MB frame size — AQE coalesces the post-assignment
      // exchange to one task on small corpora and the stage runs
      // serial; fan it out below ~256k vectors (identity past that:
      // nothing coalesces under core count at real scale)
      val aSig =
        if (nOpt.exists(_ <= 262144L))
          a.select(col("vec_id"), col("c"), col("embedding"))
            .repartition(s.sparkContext.defaultParallelism)
        else a.select(col("vec_id"), col("c"), col("embedding"))
      val sigs = Dedup.hyperplaneBanded(aSig, bits, 64, 64)
      val cands = sigs.as("x").join(sigs.as("y"),
          col("x.c") === col("y.c") && col("x.band") === col("y.band") &&
            col("x.sig") === col("y.sig") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("mate"), col("y.vec_id").as("vid"),
          col("y.c").as("cluster"))
        .distinct()
      cands
        .join(a.select(col("vec_id").as("mate"),
          col("embedding").as("emb_x"), col("n2").as("n2_x")), "mate")
        .join(a.select(col("vec_id").as("vid"),
          col("embedding").as("emb_y"), col("n2").as("n2_y")), "vid")
        .select(col("vid").as("vec_id"), col("cluster"), col("mate"),
          (dotD(col("emb_x"), col("emb_y")) /
            sqrt(col("n2_x") * col("n2_y"))).as("cos"))
    }
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("mate"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cluster"), col("mate").as("dup_of"),
        col("cos"), (col("cos") >= tau).as("is_dup"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(topN)
  }

  val semanticDedupSql: String =
    s"""$KmeansAssignCtes,
       |prs AS (
       |  SELECT y.vec_id AS vec_id, y.c AS cluster, x.vec_id AS mate,
       |    ${cosOf("x.embedding", "y.embedding")} AS cos
       |  FROM fin x JOIN fin y ON x.c = y.c AND x.vec_id < y.vec_id),
       |best AS (
       |  SELECT vec_id, cluster, mate AS dup_of, cos,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, mate) AS rn
       |  FROM prs)
       |SELECT vec_id, cluster, dup_of, cos, cos >= 0.45 AS is_dup
       |FROM best WHERE rn = 1
       |ORDER BY cos DESC, vec_id LIMIT 50""".stripMargin

  /** ×`r` amplified embeddings corpus in a scratch table (vec_id +
    * o·1e8 per replica o, vectors copied verbatim) — the gated-SF
    * stand-in for a past-cap corpus, built once per source content
    * (its dir is a [[graft.SourceKey.artifactDir]]) so repeat
    * invocations read, not rewrite. */
  private[graft] def ampEmbeddings(s: SparkSession, d: String, r: Int): String = {
    val dir = graft.SourceKey.artifactDir("graft_amp", d, "embeddings", s"x$r")
    val table = s"$dir/embeddings.parquet"
    if (!new java.io.File(table, "_SUCCESS").isFile)
      graft.SourceKey.buildArtifact(dir, d, "embeddings") {
        graft.Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
          .select(explode(sequence(lit(0L), lit(r - 1L))).as("o"),
            col("vec_id"), col("embedding"))
          .select((col("vec_id") + col("o") * 100000000L).as("vec_id"),
            col("embedding"))
          .coalesce(4)
          .write.mode("overwrite").parquet(table)
      }: Unit
    dir
  }

  /** `dedup_semantic_banded` — the past-cap PRODUCTION path of
    * [[semanticDedup]] (banded-hyperplane in-cluster candidates at the
    * bits = max(9, occupancy) floor → exact-cosine confirm), gated
    * every round instead of only in ×R sweeps (r9 verdict item 6).
    * The gated corpora are far under the cap, so the audit runs on a
    * ×16 [[ampEmbeddings]] amplification with k pinned at 32: that
    * holds bits at exactly 9 at every SF, and the replicas make the
    * top-50 STRUCTURALLY band-proof — an identical vector pair shares
    * every band signature and lands in the same cluster, so the
    * cos=1.0 tier the ranking cut selects cannot be missed however
    * sparse the banding, while the candidate → confirm → rank
    * machinery runs for real at production geometry. The oracle
    * replays the EXACT in-cluster pair join over the same amplified
    * relation — the hash gate therefore checks the banded path's
    * result-identity claim, which is precisely the contract the
    * past-cap switch relies on. */
  /** Amplification targets a CONSTANT ~[[AmpTargetRows]]-row corpus
    * (replica count = target / base, floored at ×2) rather than a
    * constant factor: the audit's subject is the banding geometry, not
    * corpus size, and a ×16 blowup of the sf0.1 corpus put a 16M-pair
    * exact join in the ORACLE (~109 s of DuckDB per verify run — a
    * baseline distortion, not a measurement). 8000 rows at k=32 holds
    * pop at 250 ⇒ bits = max(9, ·) = 9 at every gated SF. */
  private[graft] val AmpTargetRows = 8000L

  private[graft] def ampFactor(n: Long): Int =
    math.max(2L, AmpTargetRows / math.max(1L, n)).toInt

  def semanticDedupBandedAudit(s: SparkSession, d: String): DataFrame = {
    val r = ampFactor(graft.Tables.footerRowCount(s, d, "embeddings"))
    semanticDedup(s, ampEmbeddings(s, d, r), kOverride = 32,
      forceBanded = true)
  }

  val semanticDedupBandedSql: String = {
    val amp = s"""SELECT e0.vec_id + 100000000 * o.o AS vec_id, e0.embedding
      FROM embeddings e0
      CROSS JOIN (SELECT unnest(generate_series(0,
        GREATEST(2, $AmpTargetRows // (SELECT COUNT(*) FROM embeddings)) - 1)) AS o) o"""
    s"""${kmeansAssignCtes(32, 2, amp)},
       |prs AS (
       |  SELECT y.vec_id AS vec_id, y.c AS cluster, x.vec_id AS mate,
       |    ${cosOf("x.embedding", "y.embedding")} AS cos
       |  FROM fin x JOIN fin y ON x.c = y.c AND x.vec_id < y.vec_id),
       |best AS (
       |  SELECT vec_id, cluster, mate AS dup_of, cos,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, mate) AS rn
       |  FROM prs)
       |SELECT vec_id, cluster, dup_of, cos, cos >= 0.45 AS is_dup
       |FROM best WHERE rn = 1
       |ORDER BY cos DESC, vec_id LIMIT 50""".stripMargin
  }

  // ---- sample_cluster_balanced: per-cluster sampling quotas --------------

  /** `sample_cluster_balanced` — cluster-balanced selection: the `m`
    * hash-smallest vectors of every semantic cluster (the same
    * deterministic content-hash rank as sample_uniform_n, stratified by
    * [[kmeansAssign]]'s clusters instead of a metadata column). The
    * diversity-preserving sampling stage of a training-data pipeline —
    * quota sampling over LEARNED strata, where sample_stratified quotas
    * over declared ones.
    *
    * 100 TB: one shuffle on the cluster id after the assignment pass;
    * the rank window never sees more than one cluster, and k grows
    * with corpus size ([[semanticKFor]]) so per-cluster populations —
    * and the window state — stay bounded. */
  def sampleClusterBalanced(s: SparkSession, d: String, m: Int = 25,
      kOverride: Int = -1): DataFrame = {
    val k = if (kOverride > 0) kOverride else {
      val n = graft.Tables.footerRowCount(s, d, "embeddings")
      val kk = semanticKFor(n)
      System.err.println(s"[graft] sample_cluster_balanced adaptive k=$kk (n=$n)")
      kk
    }
    val w = Window.partitionBy(col("c"))
      .orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
    kmeansAssign(s, d, k, 2)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= m)
      .select(col("c").as("cluster"), col("rk").cast("int").as("rk"),
        col("vec_id"))
      .orderBy(col("cluster"), col("rk"))
  }

  val sampleClusterBalancedSql: String =
    s"""$KmeansAssignCtes
       |SELECT c AS cluster, CAST(rk AS INT) AS rk, vec_id FROM (
       |  SELECT c, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY c
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
       |  FROM fin)
       |WHERE rk <= 25 ORDER BY cluster, rk""".stripMargin

  // ---- embed_quantize: int8 scalar quantization audit -------------------

  /** `embed_quantize` — per-dimension affine int8 quantization of the
    * embedding corpus with a reconstruction-error audit: for every
    * dimension, the [min, max] range, the 255-step affine code of each
    * value (floor — no cross-engine rounding ties), the midpoint
    * reconstruction, and the quantised-sum MSE. The scalar-quantization
    * storage path every production vector store offers (4× smaller
    * than float32 at ~1e-7 MSE here) — and the audit table that tells
    * you whether int8 is safe for YOUR corpus before flipping it on.
    *
    * 100 TB: two narrow passes — a 64-row min/max aggregate broadcast
    * back into the scan-side code/reconstruct projection, then a
    * 64-group quantised-sum aggregate; the shuffle carries d partial
    * rows per task, never vectors. Oracle-exact: min/max are
    * order-independent, the code/reconstruct chain is one fixed IEEE
    * expression sequence, and the MSE sum is floor-quantised at 1e-15
    * into exact DECIMAL (the davg9 idiom at error magnitude). */
  def quantize(s: SparkSession, d: String): DataFrame = {
    val ex = embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        col("x").cast("double").as("xd"))
    val mm = ex.groupBy(col("dim"))
      .agg(min(col("xd")).as("vmin"), max(col("xd")).as("vmax"))
    val code = when(col("vmax") > col("vmin"),
      least(lit(255.0),
        floor((col("xd") - col("vmin")) * 255.0 / (col("vmax") - col("vmin")))))
      .otherwise(0.0)
    ex.join(broadcast(mm), "dim")
      .withColumn("code", code)
      .withColumn("xhat",
        col("vmin") + (col("code") + 0.5) * (col("vmax") - col("vmin")) / 255.0)
      .withColumn("se", (col("xd") - col("xhat")) * (col("xd") - col("xhat")))
      .groupBy(col("dim"), col("vmin"), col("vmax"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(FLOOR(se * 1e15) AS DECIMAL(28,0))) AS DOUBLE)" +
          " / 1e15 / COUNT(*)").as("mse"))
      .orderBy(col("dim"))
  }

  val quantizeSql: String =
    """WITH ex AS (
      |  SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS xd
      |  FROM (SELECT embedding, UNNEST(range(1, len(embedding) + 1)) AS i
      |        FROM embeddings)),
      |mm AS (SELECT dim, MIN(xd) AS vmin, MAX(xd) AS vmax FROM ex GROUP BY dim),
      |q AS (
      |  SELECT e.dim, e.xd, m.vmin, m.vmax,
      |    CASE WHEN m.vmax > m.vmin
      |      THEN LEAST(255.0, FLOOR((e.xd - m.vmin) * 255.0 / (m.vmax - m.vmin)))
      |      ELSE 0.0 END AS code
      |  FROM ex e JOIN mm m USING (dim)),
      |r AS (
      |  SELECT dim, vmin, vmax, xd,
      |    vmin + (code + 0.5) * (vmax - vmin) / 255.0 AS xhat
      |  FROM q)
      |SELECT dim, vmin, vmax, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(FLOOR((xd - xhat) * (xd - xhat) * 1e15) AS DECIMAL(28,0)))
      |    AS DOUBLE) / 1e15 / COUNT(*) AS mse
      |FROM r GROUP BY dim, vmin, vmax ORDER BY dim""".stripMargin

  // ---- embed_outliers: centroid-distance outlier scoring ----------------

  /** `embed_outliers` — embedding-space outlier detection for corpus
    * cleaning: squared L2 distance of every vector to the corpus
    * centroid, z-scored against the corpus distance distribution, top
    * 20 by z. Vectors far from the bulk are mislabeled/garbled/
    * off-distribution documents — the embedding-side counterpart of
    * text_quality's heuristic gate.
    *
    * 100 TB: the centroid is a 64-row broadcast (per-dim davg9 means),
    * the distance pass is narrow, the distance distribution is ONE
    * global aggregate row broadcast back, and only the top-20 leave
    * the final rank — no stage materializes more than the input scan.
    * Oracle-exact: per-dim means, per-vector distance sums and the
    * distance moments are all floor-quantised exact-integer
    * accumulations (the Frags.davg9 idiom); z is a fixed IEEE op
    * sequence on those. */
  def outliers(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    import graft.queries.Frags.davg9
    val mu = embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), col("x").cast("double").as("xd"))
      .groupBy(col("dim"))
      .agg(expr(davg9("xd")).as("mean"))
    val d2 = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .join(broadcast(mu), "dim")
      .select(col("vec_id"),
        ((col("x").cast("double") - col("mean")) *
          (col("x").cast("double") - col("mean"))).as("sq"))
      .groupBy(col("vec_id"))
      .agg(expr("CAST(SUM(CAST(FLOOR(sq * 1e9) AS DECIMAL(28,0))) AS DOUBLE) / 1e9")
        .as("d2"))
    val moments = d2.agg(
      expr(davg9("d2")).as("mu_d"),
      expr(davg9("d2 * d2")).as("mu_d2"))
      .select(col("mu_d"),
        sqrt(greatest(col("mu_d2") - col("mu_d") * col("mu_d"), lit(0.0)))
          .as("sd_d"))
    d2.crossJoin(broadcast(moments))
      .select(col("vec_id"), col("d2"),
        when(col("sd_d") > 0, (col("d2") - col("mu_d")) / col("sd_d"))
          .otherwise(lit(0.0)).as("z"))
      .orderBy(col("z").desc, col("vec_id"))
      .limit(k)
  }

  val outliersSql: String = {
    import graft.queries.Frags.davg9
    s"""WITH ex AS (
       |  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS xd
       |  FROM (SELECT vec_id, embedding, UNNEST(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |mu AS (SELECT dim, ${davg9("xd")} AS mean FROM ex GROUP BY dim),
       |d2 AS (
       |  SELECT vec_id,
       |    CAST(SUM(CAST(FLOOR((xd - mean) * (xd - mean) * 1e9) AS DECIMAL(28,0)))
       |      AS DOUBLE) / 1e9 AS d2
       |  FROM ex JOIN mu USING (dim) GROUP BY vec_id),
       |mom AS (
       |  SELECT mu_d, SQRT(GREATEST(mu_d2 - mu_d * mu_d, 0.0)) AS sd_d FROM (
       |    SELECT ${davg9("d2")} AS mu_d, ${davg9("d2 * d2")} AS mu_d2 FROM d2))
       |SELECT vec_id, d2,
       |  CASE WHEN sd_d > 0 THEN (d2 - mu_d) / sd_d ELSE 0.0 END AS z
       |FROM d2 CROSS JOIN mom
       |ORDER BY z DESC, vec_id LIMIT 20""".stripMargin
  }

  // ---- embed_pca: top-2 principal components ---------------------------

  /** Power-iteration steps shared by [[pca]] and the spec's independent
    * replay: T rounds of w = floor-quantised C·v followed by max-|w|
    * normalisation. Every step is either exact integer arithmetic or a
    * fixed IEEE op on identical inputs, so the iterate is bit-identical
    * across engines and aggregation orders. */
  private[graft] def pcaPowerIter(c: Array[Array[Double]], iters: Int): Array[Double] = {
    val dim = c.length
    var v = Array.fill(dim)(1.0)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim) { i =>
        var acc = 0L; var j = 0
        while (j < dim) { acc += math.floor(c(i)(j) * v(j) * 1e9).toLong; j += 1 }
        acc
      }
      val m = w.map(math.abs).max
      require(m != 0L, "degenerate covariance: power iterate vanished")
      v = w.map(x => x.toDouble / m.toDouble)
    }
    v
  }

  /** Quantised Rayleigh value vᵀCv (exact integer sum over d² terms). */
  private[graft] def pcaRayleigh(c: Array[Array[Double]], v: Array[Double]): Double = {
    var acc = 0L
    for (i <- c.indices; j <- c.indices)
      acc += math.floor(v(i) * c(i)(j) * v(j) * 1e9).toLong
    acc.toDouble / 1e9
  }

  /** `embed_pca` — dimensionality reduction over the embedding corpus:
    * per-dim quantised mean, floor-quantised centred covariance, top-2
    * principal components via `iters` deterministic power iterations
    * (all-ones start, max-|w| normalisation, quantised-Rayleigh
    * deflation for the second component), then every vector's
    * projection onto both — the 2-D map / decorrelation stage that
    * precedes IVF/PQ indexing and embedding visualisation.
    *
    * Oracle-exact end to end: the covariance entries are exact integer
    * sums (order-independent), the d×d eigen-iteration is replayed in
    * [[pcaSql]] as unrolled CTEs over IDENTICAL doubles (floor-quantised
    * matvec, integer max normaliser), and the projections are quantised
    * integer sums again — no step depends on engine summation order.
    *
    * 100 TB: the covariance is ONE pass through the vectors via the
    * [[graft.functions.GramianSums]] aggregate — each row's full d×d
    * quantised outer product accumulates into a d²-long buffer
    * (32 KB at d = 64), partials merge element-wise, and only d²
    * longs ever shuffle (the prior explode + vec_id-self-join shape
    * streamed n×d² = 4,096× the row count through a join before
    * aggregating — measuring the amplifier, not the covariance). The
    * d² result and the d-element mean vector are the legitimate
    * bounded driver tables on which the eigen-iteration runs (pure
    * d²-cost math, no data); the components then fold back as literal
    * arrays in a narrow zip_with projection pass — no explode, no
    * join, no per-vector aggregate. No stage scales worse than the
    * input scan. */
  def pca(s: SparkSession, d: String, iters: Int = 12): DataFrame = {
    import graft.queries.Frags.davg9
    import graft.functions.GramianSums.gramianSums
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    // per-dim quantised means: d rows, the first bounded driver table
    val muRows = e
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .groupBy(col("dim")).agg(expr(davg9("CAST(xf AS DOUBLE)")).as("mean"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val dim = muRows.keys.max + 1
    val muLit = array((0 until dim).map(i => lit(muRows(i))): _*)
    def cent = zip_with(col("embedding"), muLit,
      (xv, m) => xv.cast("double") - m)
    // one-pass Gramian: d² quantised sums, the second bounded table
    val gRow = e.agg(gramianSums(cent, dim).as("sums"),
      count(lit(1)).as("n")).head()
    val sums = gRow.getSeq[Long](0)
    val n = gRow.getLong(1)
    val c1 = Array.tabulate(dim, dim)((i, j) =>
      sums(i * dim + j).toDouble / 1e9 / n)
    val v1 = pcaPowerIter(c1, iters)
    val lam1 = pcaRayleigh(c1, v1)
    val c2 = Array.tabulate(dim, dim)((i, j) => c1(i)(j) - lam1 * v1(i) * v1(j))
    val v2 = pcaPowerIter(c2, iters)
    // projections: literal components folded per row — same quantised
    // long sums as the prior decimal aggregation, term for term
    def proj(v: Array[Double], alias: String): Column =
      (aggregate(
        zip_with(cent, array(v.map(lit).toIndexedSeq: _*),
          (cx, c) => floor(cx * c * lit(1e9))),
        lit(0L), (acc, t) => acc + t).cast("double") / 1e9).as(alias)
    e.select(col("vec_id"), proj(v1, "p1"), proj(v2, "p2"))
      .orderBy(col("vec_id"))
  }

  /** The full PCA pipeline as DuckDB SQL: quantised mean → quantised
    * covariance → `iters` unrolled power-iteration CTEs → quantised
    * Rayleigh deflation → second component → quantised projections.
    * Same shape as [[kmeansSql]]: training replayed, not approximated. */
  val pcaSql: String = {
    val iters = 12
    def rounds(covCte: String, p: String): String = (1 to iters).map { t =>
      val prev = if (t == 1) "v0" else s"${p}v${t - 1}"
      s"""${p}w$t AS MATERIALIZED (
         |  SELECT c.i AS dim,
         |    SUM(CAST(FLOOR(c.c * v.v * 1e9) AS DECIMAL(28,0))) AS w
         |  FROM $covCte c JOIN $prev v ON c.j = v.dim GROUP BY c.i),
         |${p}v$t AS MATERIALIZED (
         |  SELECT dim, CAST(w AS DOUBLE) /
         |    CAST((SELECT MAX(ABS(w)) FROM ${p}w$t) AS DOUBLE) AS v
         |  FROM ${p}w$t)""".stripMargin
    }.mkString(",\n")
    import graft.queries.Frags.davg9
    s"""WITH x AS MATERIALIZED (
       |  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
       |  FROM (SELECT vec_id, embedding, UNNEST(range(1, len(embedding) + 1)) AS i
       |        FROM embeddings)),
       |mu AS MATERIALIZED (SELECT dim, ${davg9("x")} AS mean FROM x GROUP BY dim),
       |cx AS MATERIALIZED (
       |  SELECT vec_id, dim, x - mean AS cx FROM x JOIN mu USING (dim)),
       |cov AS MATERIALIZED (
       |  SELECT a.dim AS i, b.dim AS j,
       |    CAST(SUM(CAST(FLOOR(a.cx * b.cx * 1e9) AS DECIMAL(28,0))) AS DOUBLE)
       |      / 1e9 / COUNT(*) AS c
       |  FROM cx a JOIN cx b USING (vec_id) GROUP BY 1, 2),
       |v0 AS (SELECT dim, 1.0 AS v FROM mu),
       |${rounds("cov", "a")},
       |lam AS MATERIALIZED (
       |  SELECT CAST(SUM(CAST(FLOOR(a.v * c.c * b.v * 1e9) AS DECIMAL(28,0)))
       |    AS DOUBLE) / 1e9 AS l
       |  FROM cov c JOIN av$iters a ON c.i = a.dim JOIN av$iters b ON c.j = b.dim),
       |cov2 AS MATERIALIZED (
       |  SELECT c.i, c.j, c.c - (SELECT l FROM lam) * a.v * b.v AS c
       |  FROM cov c JOIN av$iters a ON c.i = a.dim JOIN av$iters b ON c.j = b.dim),
       |${rounds("cov2", "b")}
       |SELECT cx.vec_id,
       |  CAST(SUM(CAST(FLOOR(cx.cx * v1.v * 1e9) AS DECIMAL(28,0))) AS DOUBLE)
       |    / 1e9 AS p1,
       |  CAST(SUM(CAST(FLOOR(cx.cx * v2.v * 1e9) AS DECIMAL(28,0))) AS DOUBLE)
       |    / 1e9 AS p2
       |FROM cx JOIN av$iters v1 ON cx.dim = v1.dim
       |        JOIN bv$iters v2 ON cx.dim = v2.dim
       |GROUP BY cx.vec_id
       |ORDER BY vec_id""".stripMargin
  }
}
