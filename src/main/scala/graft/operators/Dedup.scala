package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.documents
import graft.functions.TextFunctions._
import graft.functions.HashFunctions._
import graft.functions.VectorFunctions._

/** Deduplication operators for the LLM-data-pipeline layer
  * (SURVEY.md §2.3), all expressed as declarative shuffle-conscious
  * plans over the `documents` / `embeddings` tables:
  *
  *  - exact: one hash-groupBy (map-side partial agg; shuffles only
  *    16-byte keys + counters, never text).
  *  - n-gram Jaccard: shingle-exploded self-join — shuffle carries
  *    (shingle, doc_id) pairs only; skew-prone hot shingles are exactly
  *    what MinHash banding avoids at 100 TB.
  *  - MinHash/LSH: fixed-width signatures (32 longs/doc); candidates
  *    from band-bucket equality joins, then exact-Jaccard confirm on
  *    candidates only.
  *  - SimHash: 8 bytes/doc + banded blocking for Hamming candidates.
  *  - embedding cosine: deterministic double fold (VectorFunctions).
  */
object Dedup {

  /** Exact dedup: survivor (min doc_id) per distinct content hash. */
  def exact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  val exactSql: String =
    """SELECT SUBSTR(md5(text), 1, 16) AS fp, MIN(doc_id) AS keep_id,
      |  COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY SUBSTR(md5(text), 1, 16)
      |ORDER BY keep_id""".stripMargin

  /** Materialized deduplicated corpus: keep each content-hash group's
    * min-doc_id survivor, preserving all columns. The consumer-facing
    * operation the other dedup strategies feed (swap the survivor set
    * for minhash/simhash candidates to drop near-dups instead). */
  def dedupCorpus(s: SparkSession, d: String): DataFrame = {
    val survivors = documents(s, d)
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    documents(s, d).join(survivors, "doc_id")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  val dedupCorpusSql: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM documents
      |WHERE doc_id IN (SELECT MIN(doc_id) FROM documents
      |                 GROUP BY SUBSTR(md5(text), 1, 16))
      |ORDER BY doc_id""".stripMargin
      // the 16-hex-char prefix mirrors fingerprint() exactly (as
      // exactSql does): grouping by the FULL md5 here would keep two
      // survivors for a 64-bit prefix collision that the Spark side
      // merges into one — a latent oracle divergence

  /** `dedup_forget` — erasure composed with the dedup SURVIVOR corpus
    * (r9; the remaining clause of VERDICT r8 #3): when a
    * right-to-erasure drop-set includes a content group's retained
    * survivor, the group must not silently vanish from the
    * deduplicated corpus — the next-smallest NON-erased copy is
    * promoted. This audit surfaces exactly those groups: (fp,
    * old_keep_id, new_keep_id, n_survivor_copies), with new_keep_id
    * NULL when the erasure consumed every copy (the group legitimately
    * disappears). Without this pass, downstream training-corpus
    * releases built from survivor id lists would drop content that
    * still has perfectly retainable copies.
    *
    * The gated erasure set is doc_id ≡ 2 mod 7 (a ~14% bulk drop —
    * deterministic and never vacuous: ~1/7 of survivors are hit at
    * every SF); [[dedupForgetOf]] takes an arbitrary predicate for
    * production (where it would be a broadcast semi-join against the
    * cascaded subject id list, the etl_forget shape).
    *
    * 100 TB: ONE map-side-partial hash aggregate keyed on the content
    * fingerprint — the erasure predicate rides inside the aggregate
    * as conditional min/count, so no second pass, no join, and the
    * shuffle carries (16-hex fp, two longs) per distinct content. */
  def dedupForgetOf(docs: DataFrame, erased: Column): DataFrame =
    docs
      .select(fingerprint(col("text")).as("fp"), col("doc_id"),
        erased.as("er"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("old_keep_id"),
        min(when(!col("er"), col("doc_id"))).as("new_keep_id"),
        sum(when(!col("er"), 1L).otherwise(0L)).as("n_survivor_copies"))
      // "the survivor was erased" without re-evaluating the predicate:
      // an untouched survivor keeps old == new; an erased one promotes
      // (new > old) or annihilates the group (new NULL)
      .filter(col("new_keep_id").isNull ||
        col("old_keep_id") =!= col("new_keep_id"))
      .orderBy(col("old_keep_id"))

  def dedupForget(s: SparkSession, d: String): DataFrame =
    dedupForgetOf(documents(s, d), col("doc_id") % 7 === 2)

  val dedupForgetSql: String =
    """SELECT fp, old_keep_id, new_keep_id, n_survivor_copies FROM (
      |  SELECT SUBSTR(md5(text), 1, 16) AS fp,
      |    MIN(doc_id) AS old_keep_id,
      |    MIN(CASE WHEN doc_id % 7 <> 2 THEN doc_id END) AS new_keep_id,
      |    CAST(SUM(CASE WHEN doc_id % 7 <> 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_survivor_copies
      |  FROM documents GROUP BY 1)
      |WHERE new_keep_id IS NULL OR old_keep_id <> new_keep_id
      |ORDER BY old_keep_id""".stripMargin

  /** Distinct word-bigram shingles per doc, as 64-bit hashes:
    * (doc_id, sh). Joining/shuffling 8-byte keys instead of strings
    * cuts the self-join cost ~3×; counts are unchanged absent xxhash64
    * collisions (none among the ~10^3-10^6 distinct shingles here, and
    * a 128-bit upgrade is a one-line change at larger corpora). */
  private[operators] def shingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(documents(s, d))

  /** ONE shingle definition over any (doc_id, text) frame — shared by
    * the corpus path above and MinhashIndex.append's batch encoding,
    * so an index extension can never carry bands computed from
    * different shingles than the stored table it extends (review
    * r11). */
  private[operators] def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        explode(array_distinct(transform(bigrams(col("ws")),
          g => xxhash64(g)))).as("sh"))

  /** Top-20 most-similar doc pairs by bigram-shingle Jaccard.
    *
    * Two exact physical strategies, chosen by shingle-universe size:
    *  - small universe (≤16k distinct shingles): dictionary-index each
    *    shingle, pack each doc's set into a dense bitset, and compute
    *    all-pairs common counts as popcount(AND) over broadcast rows —
    *    no shuffle of the 10^7-10^8 shared-shingle pair rows.
    *  - otherwise: shingle-exploded self-join + pair groupBy (the
    *    general shape; at true corpus scale use dedup_minhash and
    *    confirm only candidates).
    * Both produce identical counts, hence identical Jaccard output.
    */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    jaccardPairs(s, d)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)

  /** Bitset-strategy caps. TWO limits bind, not just broadcast bytes:
    * the universe must be dictionary-sized (it is the bitset width,
    * and one side broadcasts nDocs × universe/8 bytes), AND the doc
    * count must keep the inequality-join's O(nDocs²) pair space of
    * full-width popcounts tractable — the pair work, not the
    * broadcast, is what dominates as docs grow (20k docs ≈ 2·10⁸
    * pairs, each a full-bitset popcount; the measured sf0.1 A/B point
    * is 5k docs ≈ 1.2·10⁷ pairs at 3.7 s vs 18.8 s for the prefix
    * path — quadratic extrapolation puts the crossover near 20k).
    * Beyond either cap the shuffle-join / prefix-join paths are the
    * scale-correct shapes. Shared by every strategy dispatch so a
    * tuning change can't leave one path behind. */
  private val BitsetUniverseCap = 16384L
  private val BitsetDocCap = 20000L

  private def shStats(sh: DataFrame): (Long, Long) = {
    val r = sh.agg(countDistinct(col("sh")).as("u"),
      countDistinct(col("doc_id")).as("nd")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** (doc_a, doc_b, common, n_a, n_b) → (doc_a, doc_b, jaccard). */
  private def withJaccard(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a"), col("doc_b"),
      (col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common"))).as("jaccard"))

  /** The strategy dispatch for the UNTHRESHOLDED exact shared-shingle
    * pair stage (doc_a, doc_b, common, n_a, n_b): dense bitsets under
    * the caps, shingle-exploded self-join past them. Consumers:
    * [[ngramJaccard]] (via jaccardPairs) and [[containment]].
    * Threshold-aware consumers ([[clusters]]) go through
    * [[jaccardPairsAbove]] instead, whose dispatch swaps the
    * past-the-caps branch for the PPJoin prefix join (prefix pruning
    * needs the threshold, which this stage doesn't have). */
  private def pairStage(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
    val (nUniverse, nDocs) = shStats(sh)
    if (nUniverse <= BitsetUniverseCap && nDocs <= BitsetDocCap)
      ngramPairsBitset(sh, nUniverse.toInt)
    else ngramPairsJoin(sh)
  }

  /** All doc pairs sharing ≥1 bigram shingle, with exact Jaccard —
    * the shared pair stage behind [[ngramJaccard]] and [[clusters]]. */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    withJaccard(pairStage(s, d))

  /** Near-containment pairs: common / min(|A|,|B|) ≥ `t` — catches a
    * document embedded inside a larger one, which symmetric Jaccard
    * misses (a 100-shingle doc inside a 1000-shingle doc has J ≈ 0.1
    * but containment 1.0). Same exact pair stage as [[ngramJaccard]];
    * only the score changes. */
  def containment(s: SparkSession, d: String, t: Double = 0.9): DataFrame = {
    pairStage(s, d).select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          least(col("n_a"), col("n_b"))).as("containment"))
      .filter(col("containment") >= t)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The shingle/sizes/common CTE block shared VERBATIM by every
    * exact-pair oracle (ngramJaccard, minhash, containment, clusters):
    * one definition, so a change to the shingle semantics cannot
    * silently desynchronize one oracle from the Spark side it checks.
    * (This val is a plain literal — only the CONSUMER strings are
    * s-interpolated, so a literal $ added there must be doubled.) */
  private val ShCte: String =
    """sh AS (
      |  SELECT doc_id, UNNEST(list_distinct(list_transform(
      |           generate_series(1, len(string_split(text, ' ')) - 1),
      |           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))) AS sh
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2)""".stripMargin

  private[operators] val ShPairsCte: String =
    s"""$ShCte,
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS common
      |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      |  GROUP BY x.doc_id, y.doc_id)""".stripMargin

  val containmentSql: String =
    s"""WITH $ShPairsCte
      |SELECT doc_a, doc_b,
      |  CAST(common AS DOUBLE) / LEAST(a.n_sh, b.n_sh) AS containment
      |FROM common
      |JOIN sizes a ON a.doc_id = doc_a
      |JOIN sizes b ON b.doc_id = doc_b
      |WHERE CAST(common AS DOUBLE) / LEAST(a.n_sh, b.n_sh) >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin

  /** (doc_id, bits, n_sh): each doc's shingle set as a dense bitset over
    * a dictionary-indexed universe (shared by the bitset pair strategies;
    * the vocab window sorts only the ≤16k distinct shingles). */
  private def docBitsets(sh: DataFrame, universe: Int): DataFrame = {
    import graft.functions.BitsetFunctions._
    import org.apache.spark.sql.expressions.Window
    val nWords = (universe + 63) / 64
    val vocab = sh.select(col("sh")).distinct()
      .withColumn("idx",
        (row_number().over(Window.orderBy(col("sh"))) - 1).cast("int"))
    sh.join(broadcast(vocab), "sh")
      .groupBy(col("doc_id"))
      .agg(collect_list(col("idx")).as("idxs"), count(lit(1)).as("n_sh"))
      .select(col("doc_id"), positionsToBitset(col("idxs"), nWords).as("bits"),
        col("n_sh"))
  }

  private def ngramPairsBitset(sh: DataFrame, universe: Int): DataFrame = {
    import graft.functions.BitsetFunctions._
    val docs = docBitsets(sh, universe)
    // The pair stage is O(nDocs²) full-width popcounts, but its
    // STREAMED side is a tiny-bytes aggregate AQE coalesces to one
    // post-shuffle partition — so the quadratic compute ran on ONE
    // core (measured r13: 4.0 s of dedup_containment's 4.2 s action
    // was a single task; 32× the bytes-blind under-parallelization
    // the optimization guide §2.5 calls compute skew). Fan the
    // streamed side to core count with an explicit round-robin
    // exchange (AQE never re-coalesces explicit-numPartitions
    // exchanges). Bounded by construction: this path is gated to
    // ≤ BitsetDocCap docs × universe/8 B bitsets, a few MB of extra
    // shuffle; the broadcast build side is unchanged.
    val sp = sh.sparkSession.sparkContext.defaultParallelism
    docs.repartition(sp).as("a")
      .join(broadcast(docs.as("b")), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bitsetIntersectCount(col("a.bits"), col("b.bits")).as("common"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .filter(col("common") > 0)
  }

  /** Shared-key exact pair stage: self-join a (doc_id, sh) table on
    * the key, count common keys per pair, attach both sizes — used by
    * the shingle family here and by TextAnalysis.cdcPairs (chunk
    * fingerprints as keys). ONE definition of the pair shape. */
  private[operators] def ngramPairsJoin(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    sh.as("x")
      .join(sh.as("y"), col("x.sh") === col("y.sh") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
  }

  val ngramJaccardSql: String =
    s"""WITH $ShPairsCte
      |SELECT doc_a, doc_b,
      |  CAST(common AS DOUBLE) / (a.n_sh + b.n_sh - common) AS jaccard
      |FROM common
      |JOIN sizes a ON a.doc_id = doc_a
      |JOIN sizes b ON b.doc_id = doc_b
      |ORDER BY jaccard DESC, doc_a, doc_b
      |LIMIT 20""".stripMargin

  /** Document-frequency cap for [[ngramDfCap]]'s candidate generation,
    * shared by the Spark side and the oracle (which replays it).
    * At sf0.1 the per-shingle df distribution is bimodal: 31 shingles
    * with df ≤ 50 vs 900 boilerplate shingles at df 101-338 carrying
    * 99.997% of the 36.5M-row shared-shingle pair work — any cap in
    * [50, 200] selects the same rare set, so 200 is the loose end of
    * the plateau. */
  val NgramDfCapThreshold = 200

  /** df-capped exact-pair dedup — the hot-key-proof scale shape for
    * the shared-shingle family (standard PPJoin/prefix practice:
    * Xiao et al., WWW'08).
    *
    * [[ngramJaccard]]/[[containment]]'s shared-shingle join is
    * quadratic in per-shingle document frequency: at 100 TB one
    * boilerplate bigram ("all rights" in every page footer) is a
    * hot-key blowup that no partitioning fixes. The cap drops shingles
    * with df > [[NgramDfCapThreshold]] from CANDIDATE GENERATION only;
    * surviving candidate pairs are then confirmed with EXACT Jaccard
    * over their FULL shingle sets (per-doc sorted hash arrays — each
    * bounded by doc length, so the confirm join shuffles candidate
    * pairs + per-doc arrays, never the df² pair explosion).
    *
    * Measured trade at sf0.1 (SURVEY §6): candidates 9.7M → 1,071
    * (0.011%); all 9 exact-duplicate pairs (J = 1.0) survive — an
    * exact dup shares EVERY shingle, so one rare shingle anywhere in
    * the doc keeps the pair — while near-dups composed purely of
    * boilerplate are lost (top-20 recall 45% on this deliberately
    * tiny-vocab corpus, the same adversarial shape that defeats the
    * PPJoin prefix path in the §6 Strategy A/B). On a Zipfian real
    * corpus the rare tail dominates every document and recall ≈ 1;
    * minhash banding remains the scale path for hot-only near-dups.
    */
  def ngramDfCap(s: SparkSession, d: String,
      cap: Int = NgramDfCapThreshold,
      scopeGate: Long = 1000000L): DataFrame = {
    val sh = shingles(s, d)
    // sh is distinct per doc, so count(*) per shingle IS document freq
    val rare = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap).select(col("sh"))
    val shRare = sh.join(rare, "sh")
    val cand = shRare.as("x")
      .join(shRare.as("y"), col("x.sh") === col("y.sh") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // Confirm-shape dispatch, MEASURED at sf0.1 (review r11 follow-up):
    // the single-plan corpus-wide docsets build is FASTEST at gated
    // SFs (1.35 s vs 2.43 s for a candidate-scoped semi-join and
    // 7.8 s for exactConfirm's adaptive dispatch, whose two driver
    // actions dominate here). Past the footer gate the corpus-wide
    // collect_list becomes the scale hazard the review flagged —
    // O(corpus) array shuffle for an O(candidates) need — so the
    // semi-join variant takes over. Bit-identical either way (same
    // int operands, one double division).
    val docBase =
      if (graft.Tables.footerRowCount(s, d, "documents") <= scopeGate) sh
      else sh.join(
        cand.select(col("doc_a").as("doc_id"))
          .union(cand.select(col("doc_b").as("doc_id"))).distinct(),
        "doc_id")
    val docsets = docBase.groupBy(col("doc_id"))
      .agg(collect_list(col("sh")).as("shs"), count(lit(1)).as("n_sh"))
    val confirmed = cand
      .join(docsets.select(col("doc_id").as("doc_a"), col("shs").as("sa"),
        col("n_sh").as("n_a")), "doc_a")
      .join(docsets.select(col("doc_id").as("doc_b"), col("shs").as("sb"),
        col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("common"),
        col("n_a"), col("n_b"))
    withJaccard(confirmed)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Oracle replays the IDENTICAL cap on string shingles (same
    * df-equivalence argument as every shingle oracle: xxhash64 is
    * collision-free at this universe). */
  val ngramDfCapSql: String =
    s"""WITH $ShCte,
      |df AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      |  WHERE x.sh IN (SELECT sh FROM df WHERE df <= $NgramDfCapThreshold)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS common
      |  FROM cand c
      |  JOIN sh x ON x.doc_id = c.doc_a
      |  JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
      |  GROUP BY c.doc_a, c.doc_b)
      |SELECT doc_a, doc_b,
      |  CAST(common AS DOUBLE) / (a.n_sh + b.n_sh - common) AS jaccard
      |FROM common
      |JOIN sizes a ON a.doc_id = doc_a
      |JOIN sizes b ON b.doc_id = doc_b
      |ORDER BY jaccard DESC, doc_a, doc_b
      |LIMIT 20""".stripMargin

  /** Duplicate-cluster assignment: connected components over the
    * near-dup graph (edges = bigram-Jaccard ≥ `threshold` pairs), so a
    * chain a~b~c collapses into ONE cluster even when a and c are not
    * directly similar — the grouping every corpus-dedup policy
    * ("keep one doc per near-dup cluster") actually needs.
    *
    * Components via min-label propagation: each node starts labelled
    * with its own id; each round every node takes the min of its own
    * and its neighbours' labels; stop when a round changes nothing.
    * Rounds = O(component diameter) — near-dup clusters are shallow
    * (diameter ≲ a few hops), so this converges in 2-4 rounds at any
    * corpus size; each round is one equi-join + one hash-agg over the
    * (src,dst) edge list, never materializing anything larger than the
    * edge set. (For adversarially long chains the large-star/small-star
    * variant bounds rounds at O(log n) with the same per-round shape.)
    * `localCheckpoint` truncates the growing lineage each round.
    */
  def clusters(s: SparkSession, d: String, threshold: Double = 0.5): DataFrame = {
    val e = jaccardPairsAbove(s, d, threshold).select(col("doc_a"), col("doc_b"))
    val labels = connectedComponents(e)
    documents(s, d).select(col("doc_id"))
      // labels covers only edge-bearing nodes — USUALLY ≪ corpus, but
      // a mostly-duplicate corpus makes it O(corpus), so no forced
      // broadcast hint (the pagerank/exactConfirm gating discipline):
      // AQE broadcasts from actual runtime size when it fits, and the
      // shuffle join on 8-byte keys is the safe fallback.
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Connected components of an undirected graph given as a (u, v) long
    * pair DataFrame (either orientation, self-loops/duplicates fine):
    * returns (node, label) with label = min node id of the component,
    * for every node that appears in an edge.
    *
    * Min-label propagation: each node starts as its own label; each
    * round every node takes the min of its own and its neighbours'
    * labels; stop when a round changes nothing. Rounds = O(component
    * diameter) — near-dup clusters are shallow, so 2-4 rounds at any
    * corpus size; each round is one equi-join + one hash-agg over the
    * edge list. (For adversarially long chains the large-star/
    * small-star variant bounds rounds at O(log n) with the same
    * per-round shape.) `localCheckpoint` truncates lineage per round.
    */
  /** Edge-count gate for the driver union-find path of
    * [[connectedComponents]]: at or under it the (already materialized)
    * pair list collects to the driver — ≤ ~16 MB of id pairs — and the
    * fixpoint is computed in-process; past it the distributed min-label
    * loop runs unchanged. The near-dup edge sets behind dedup_clusters
    * / dedup_corpus_near are far under this at every gated SF AND at
    * the ×100 sweep sizes; the distributed loop remains the 100 TB
    * shape (a mostly-duplicate corpus makes edges O(corpus)). The
    * GraphOps footer-gate discipline: measured-fastest shape under the
    * gate (each propagation round costs a join + agg + checkpoint +
    * convergence action — ~4-6 driver-coordinated jobs per query,
    * 7.3 s of dedup_clusters' 5.7 s cold was this loop), scale shape
    * past it, forced-past-gate parity pinned in Analytics3Spec. */
  private[graft] val CcDriverEdgeCap = 1000000L

  /** NOTE (advice r13): this executes at CONSTRUCTION time — the pin +
    * gate count (and, under the gate, the full collect + driver
    * fixpoint) run when the frame is built, so merely constructing
    * [[clusters]] runs the entire upstream pair pipeline. The harness
    * times whole-query wall (construction + action), so nothing is
    * hidden from the bench; plan-asserting callers see a local
    * relation (under the gate) or the loop output. */
  def connectedComponents(pairs: DataFrame,
      capOverride: Long = CcDriverEdgeCap): DataFrame = {
    val Array(u, v) = pairs.columns
    // materialize the pair list ONCE: the gate count and whichever
    // path wins both read the checkpointed blocks, so the (expensive)
    // upstream pair join never recomputes per round
    val pinned = graft.Checkpoints.pin(
      pairs.select(col(u).as("pu"), col(v).as("pv")))
    // under the audit passthrough the pin above is identity, so the
    // gate count AND the driver collect would each re-run the unpinned
    // upstream pair join (advice r13) — skip both and show the
    // distributed loop, which is also the scale path the plan audit
    // should be reporting
    if (java.lang.Boolean.getBoolean("graft.audit.noCheckpoint"))
      return connectedComponentsDistributed(pinned)
    val nEdges = pinned.count()
    if (nEdges <= capOverride) {
      // driver union-find with path compression, unions keeping the
      // smaller id as root — so root = min id of the component, the
      // exact fixpoint min-label propagation converges to (the same
      // invariant Analytics3Spec's reference union-find asserts).
      // PRIMITIVE storage (advice r13): a boxed HashMap[Long, Long]
      // here cost ~150-200 MB of transient driver heap at the 1M-edge
      // cap — an order of magnitude over the 16 MB the collected pairs
      // themselves weigh. Open-addressed long->dense-int table (2× the
      // node bound, power-of-two, linear probing over mixed ids) plus
      // int parent/long id arrays: ≤ ~75 MB flat primitives at the
      // cap, no per-entry boxing, same invariants.
      val maxNodes = math.max(4, 2 * nEdges).toInt // ≤ 2 ids per edge
      var cap = 16
      while (cap < maxNodes * 2) cap <<= 1 // ≤ 50% load factor
      val mask = cap - 1
      val keys = new Array[Long](cap)
      val used = new Array[Boolean](cap)
      val slotDense = new Array[Int](cap)
      val idOf = new Array[Long](maxNodes)
      val parent = new Array[Int](maxNodes)
      var nNodes = 0
      def denseOf(id: Long): Int = {
        var h = (graft.functions.HyperplaneSigsUtil.mix64(id) & mask).toInt
        while (used(h) && keys(h) != id) h = (h + 1) & mask
        if (!used(h)) {
          used(h) = true; keys(h) = id
          slotDense(h) = nNodes; idOf(nNodes) = id; parent(nNodes) = nNodes
          nNodes += 1
        }
        slotDense(h)
      }
      def find(x0: Int): Int = {
        var x = x0
        var p = parent(x)
        while (p != x) { // path-halving
          val gp = parent(p)
          parent(x) = gp
          x = gp
          p = parent(x)
        }
        x
      }
      pinned.collect().foreach { r =>
        val ra = find(denseOf(r.getLong(0)))
        val rb = find(denseOf(r.getLong(1)))
        if (ra != rb) { // union keeps the smaller ID as root
          if (idOf(ra) < idOf(rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
      val sess = pairs.sparkSession
      import sess.implicits._
      (0 until nNodes).map(i => (idOf(i), idOf(find(i))))
        .toDF("node", "label")
    } else connectedComponentsDistributed(pinned)
  }

  /** The distributed min-label propagation loop — the past-the-gate
    * path of [[connectedComponents]], and the 100 TB shape. `pairs`
    * arrives already checkpoint-materialized. */
  private def connectedComponentsDistributed(pairs: DataFrame): DataFrame = {
    // NOT pre-partitioned on src (the labelPropDistributed trick was
    // MEASURED here and lost, 3.2 → 5.0 s at sf0.1): the near-dup edge
    // list is small and AQE broadcasts the labels side, so rounds never
    // reshuffle edges anyway — an upfront hash exchange only adds cost.
    val edges = pairs.select(col("pu").as("src"), col("pv").as("dst"))
      .union(pairs.select(col("pv").as("src"), col("pu").as("dst")))
      .persist()
    var (labels, releasePrev) = graft.Checkpoints.tracked(
      edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label")))
    // Labels only ever decrease, so sum(label) strictly decreases until
    // the fixpoint: ONE scalar agg per round detects convergence — no
    // prev-vs-next join. Summed as DECIMAL(38,0): a Long sum would wrap
    // on full-range 64-bit ids (e.g. xxhash64-derived) and could
    // terminate the loop early with wrong labels.
    def labelSum(df: DataFrame): BigDecimal = {
      val r = df.agg(org.apache.spark.sql.functions.sum(
        col("label").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) BigDecimal(0) else BigDecimal(r.getDecimal(0)) // null = no edges
    }
    var sum = labelSum(labels)
    var prevSum = sum + 1
    while (sum < prevSum) {
      val msgs = edges.join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("label"))
      // superseded label snapshot released once its successor is
      // materialized: at most two snapshots pinned however many rounds
      val (next, rel) = graft.Checkpoints.tracked(
        labels.union(msgs)
          .groupBy(col("node")).agg(min(col("label")).as("label")))
      releasePrev()
      labels = next
      releasePrev = rel
      prevSum = sum
      sum = labelSum(labels)
    }
    edges.unpersist()
    // the final labels checkpoint feeds the returned plan — the
    // harness sweep frees it after the consumer's action
    labels
  }

  /** The recursive component-closure CTE chain, shared by
    * [[clustersSql]] and [[dedupCorpusNearSql]] (one definition — the
    * ShPairsCte discipline). */
  private val ClustersCtes: String =
    s"""$ShPairsCte,
      |jpairs AS (
      |  SELECT doc_a, doc_b
      |  FROM common
      |  JOIN sizes a ON a.doc_id = doc_a
      |  JOIN sizes b ON b.doc_id = doc_b
      |  WHERE CAST(common AS DOUBLE) / (a.n_sh + b.n_sh - common) >= 0.5),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jpairs
      |          UNION ALL SELECT doc_b, doc_a FROM jpairs),
      |reach(node, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node)""".stripMargin

  val clustersSql: String =
    s"""WITH RECURSIVE $ClustersCtes
      |SELECT node AS doc_id, MIN(lbl) AS cluster_id
      |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  /** `dedup_corpus_near` — the consumer-facing NEAR-dup corpus:
    * [[dedupCorpus]] removes exact copies; this removes near-dup
    * CLUSTERS, keeping one survivor (min doc_id) per connected
    * component of the Jaccard ≥ 0.5 graph — the "keep one doc per
    * near-dup cluster" materialization every corpus-dedup policy
    * actually ships. Same component machinery as [[clusters]]
    * (bitset-exact pairs under the caps, minhash-banded candidates at
    * scale — §6 sweep finding), then one semi-join back to full rows.
    * No forced broadcast hint on the survivor set: in a mostly-UNIQUE
    * corpus survivors ≈ one row per document (O(corpus), not
    * ≪ corpus), so the hint would mandate an O(corpus) driver
    * broadcast — AQE upgrades the join to broadcast from actual
    * runtime size when it genuinely fits (advice r7). */
  def dedupCorpusNear(s: SparkSession, d: String,
      threshold: Double = 0.5): DataFrame = {
    val survivors = clusters(s, d, threshold)
      .groupBy(col("cluster_id")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    documents(s, d).join(survivors, "doc_id")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  val dedupCorpusNearSql: String =
    s"""WITH RECURSIVE $ClustersCtes,
      |comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
      |         FROM reach GROUP BY node),
      |surv AS (SELECT MIN(doc_id) AS doc_id FROM comp GROUP BY cluster_id)
      |SELECT d.doc_id, d.lang, d.source, d.n_chars
      |FROM documents d JOIN surv USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** MinHash + banded LSH near-dup pairs: banded signature buckets
    * propose candidates, exact Jaccard confirms, and only pairs at or
    * above `threshold` are emitted — the consumer-facing dup-pair list.
    *
    * Geometry SELF-TUNES from the corpus footer count (r8):
    * [[minhashBandRowsFor]] rows per band × [[minhashBandsFor]] bands
    * — 16×2 (32 hashes) at every gated SF, r=4 at the sweep sizes
    * (the measured ×5/×10 remedy: fixed r=2's random band collisions
    * grow ~n² and dominate the confirm stage). Per-band collision
    * prob = J^r, so background pairs almost never collide and the
    * 100 TB path never materializes the full pair space.
    *
    * Oracle-exactness: the emitted set equals the exact all-pairs
    * Jaccard ≥ t result as long as LSH recall at t is total. On the
    * gated corpora every true pair has J ≥ 0.85 (PipelineOpsSpec pins
    * the margin), where P(miss) ≈ 1e-9 at 16×2; ScaleJoinsSpec pins
    * the analytic bound at every geometry the rule can emit. A corpus
    * with many pairs sitting exactly at the threshold would need more
    * bands before the oracle equality claim transfers.
    */
  /** Band count for the minhash family — held constant; SELECTIVITY
    * scales through rows-per-band ([[minhashBandRowsFor]]), so recall
    * at a fixed J degrades gently (1-(1-J^r)^16) while the false-
    * candidate rate per pair falls as J_bg^r. */
  val MinhashBands = 16

  /** The Jaccard margin the LSH-completeness claims are stated against
    * (PipelineOpsSpec pins every true pair on the gated corpora at
    * J ≥ 0.85) and the P(miss) budget every emittable (b, r) geometry
    * must hold at that margin (ScaleJoinsSpec pins the analytic bound).
    * One definition — the explicit-numHashes clamp, the band rule, and
    * the runtime margin probe all reason against the same numbers. */
  private[graft] val MarginJ = 0.85
  private[graft] val MissBound = 1e-3

  /** Rows per band for a corpus of `n` docs — the minhash analog of
    * [[embeddingBitsFor]], codifying the ×5/×10 sweep finding (SURVEY
    * §6): at FIXED r=2 random band collisions grow ~n² and dominate
    * the confirm stage (8.2 s at ×10), while r=4 suppresses them
    * J_bg²-fold for 3.3 s with ZERO pair loss (2560/2560 — planted
    * pairs sit at J ≥ 0.85 where r=4 recall is still ≥ 1-7e-6 at 16
    * bands). Rule: +2 rows per corpus decade past the gated size —
    * each decade multiplies the pair space ×100 and two extra rows
    * multiply the per-pair false-candidate probability by J_bg² ≤ 0.25
    * at the t=0.5 threshold (candidates with J_bg ≥ t are TRUE pairs).
    * Base 8000 sits above every gated corpus (≤ 5000 docs: r=2, the
    * plan and oracle-equality margin unchanged, spec-pinned) and
    * below the ×5 sweep corpus (25k: r=4, the measured remedy).
    * Recall at the margin (PipelineOpsSpec pins J ≥ 0.85 for every
    * true pair): r=2 miss 1e-9, r=4 miss 7e-6, r=6 miss 5e-4 —
    * ScaleJoinsSpec pins the analytic bound for each emittable r. */
  private[graft] def minhashBandRowsFor(n: Long): Int =
    2 + 2 * math.max(0, math.ceil(math.log10(n / 8000.0)).toInt)

  /** Bands for a given rows-per-band: 16 through r=6; past that the
    * per-band capture at the margin (J ≥ 0.85) has fallen enough that
    * bands must double to hold P(miss) under 1e-3 — the margin is a
    * property of the (b, r) PAIR, so the two scale together
    * (ScaleJoinsSpec pins the analytic bound at every emittable
    * geometry). */
  private[graft] def minhashBandsFor(rows: Int): Int =
    if (rows >= 8) 2 * MinhashBands else MinhashBands

  /** Rows-per-band for an EXPLICIT hash budget: the largest divisor of
    * `numHashes` at or under the self-tuned `tuned` whose geometry —
    * b = numHashes/r bands, NOT minhashBandsFor(r) — still holds
    * P(miss) ≤ [[MissBound]] at the [[MarginJ]] margin (advice r8:
    * 32 hashes at r=4 is only 8 bands, miss ≈ 2.7e-3). Walking r down
    * only ADDS recall (looser bands and more of them), so the first
    * passing divisor is the most selective valid geometry. r=1 is the
    * always-valid floor: numHashes ≥ 16 one-row bands miss ≤ 0.15^16. */
  private[graft] def clampRowsFor(tuned: Int, numHashes: Int): Int =
    (tuned to 1 by -1).find { x =>
      numHashes % x == 0 &&
        math.pow(1.0 - math.pow(MarginJ, x), (numHashes / x).toDouble) <= MissBound
    }.getOrElse(1)

  /** Banded-minhash candidate pairs over a shingle table: per-doc
    * signatures of `numHashes` min-hashes, split into bands of
    * `bandRows`; candidates from (band, band_key) equality. Shuffles
    * carry fixed-width signatures and 16-byte id pairs only — never
    * text, never the O(n²) pair space. Output (doc_a, doc_b) distinct,
    * localCheckpoint-pinned (it feeds multiple consumer joins; the
    * harness sweep frees it). */
  /** Per-doc banded minhash signatures (doc_id, band, band_key): the
    * candidate-generation key table. Factored out of
    * [[minhashCandidates]] (r9) so [[MinhashIndex]] can PERSIST the
    * stored-corpus side and probe an arriving batch against it with
    * the identical banding expressions — one definition, no drift. */
  private[operators] def bandedSigs(sh: DataFrame, numHashes: Int,
      bandRows: Int): DataFrame = {
    require(numHashes % bandRows == 0,
      s"numHashes ($numHashes) must divide into bands of $bandRows rows — " +
        "trailing hashes would be computed but silently ignored, and the " +
        "effective band count would diverge from the (1-J^r)^b recall math")
    val sigCols = (0 until numHashes).map { i =>
      min(xxhash64(lit(i), col("sh"))).as(s"h$i")
    }
    val sigs = sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    val sig = sigs.select(col("doc_id"),
      array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
    val nBands = numHashes / bandRows
    sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(nBands - 1)),
        b => xxhash64(b, slice(col("sig"), b * bandRows + lit(1), lit(bandRows))))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))
  }

  private def minhashCandidates(sh: DataFrame, numHashes: Int,
      bandRows: Int): DataFrame = {
    // pinned (r13): the candidate self-join reads this from both
    // sides, each otherwise re-running the shingle scan + the
    // numHashes min-hash aggregation; the banded frame itself is
    // nBands rows per doc of (doc_id, band, band_key) longs
    val banded = graft.Checkpoints.pin(bandedSigs(sh, numHashes, bandRows))
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .transform(df => graft.Checkpoints.pin(df))
  }

  def minhashLsh(s: SparkSession, d: String,
      numHashes: Int = -1, bandRows: Int = -1,
      threshold: Double = 0.5): DataFrame = {
    // self-tuning by default (the embeddingBitsFor discipline): rows
    // per band from the corpus footer count, bands held at 16, logged
    // so an oracle mismatch at a new corpus size is diagnosable.
    // Explicit bandRows/numHashes override for A/B measurement.
    val r = if (bandRows > 0) bandRows else {
      // footer row count: the rule costs driver file metadata, not a
      // count() job (r8)
      val n = graft.Tables.footerRowCount(s, d, "documents")
      val tuned = minhashBandRowsFor(n)
      // an EXPLICIT numHashes with self-tuned rows must stay valid on
      // every corpus size: clamp the tuned r down to the largest
      // divisor of numHashes (review finding r8 — numHashes=32 with
      // tuned r=6 would otherwise fail the divisibility require) THAT
      // ALSO keeps P(miss) at the spec margin under the 1e-3 bound
      // (advice r8: with explicit hashes the band count is numHashes/r,
      // not minhashBandsFor(r) — 32 hashes at r=4 is only 8 bands,
      // miss ≈ 2.7e-3 at J=0.85, above the bound ScaleJoinsSpec pins
      // for the self-tuned geometries). Clamping down only ADDS recall
      // (smaller r = looser bands AND more of them), so the first
      // divisor ≤ tuned that passes the bound is the cheapest valid r.
      val rr = if (numHashes > 0) clampRowsFor(tuned, numHashes) else tuned
      System.err.println(s"[graft] dedup_minhash adaptive bandRows=$rr (n=$n)")
      rr
    }
    val nh = if (numHashes > 0) numHashes else minhashBandsFor(r) * r
    // NOT pinned: an r13 ABBA measured eager materialization of the
    // shingle table a WASH here (2.91/2.78 -> 3.06/2.76 s) — the
    // downstream recomputes it saves cost about what the checkpoint
    // write + lost scan pushdown add at gated scale
    val sh = shingles(s, d)
    exactConfirm(minhashCandidates(sh, nh, r), sh, Some(documents(s, d)))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exact all-pairs Jaccard ≥ 0.5 — what the LSH path must converge
    * to when its recall at the threshold is total (see minhashLsh). */
  val minhashLshSql: String =
    s"""WITH $ShPairsCte
      |SELECT doc_a, doc_b,
      |  CAST(common AS DOUBLE) / (a.n_sh + b.n_sh - common) AS jaccard
      |FROM common
      |JOIN sizes a ON a.doc_id = doc_a
      |JOIN sizes b ON b.doc_id = doc_b
      |WHERE CAST(common AS DOUBLE) / (a.n_sh + b.n_sh - common) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Exact Jaccard for each candidate (doc_a, doc_b) pair, computing
    * shingle sets ONLY for docs appearing in a candidate (semi-join),
    * so the stage costs O(candidates), not O(corpus). When the
    * candidate shingle universe is dictionary-sized, sets are dense
    * bitsets and each pair confirm is a popcount(AND) over a few
    * hundred bytes; otherwise falls back to set arrays. Identical
    * Jaccard values either way. `cands` must be cheap to re-evaluate
    * (checkpointed/materialized by the caller). */
  private[operators] def exactConfirm(cands: DataFrame, sh: DataFrame,
      docs: Option[DataFrame] = None): DataFrame = {
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    // Broadcast hints are gated on the candidate-doc count: an LSH
    // stage emitting millions of candidate docs must NOT force a
    // multi-GB driver broadcast — past the cap the planner picks a
    // shuffle join on the 8-byte doc keys instead.
    val nCand = candDocs.count()
    val hint: DataFrame => DataFrame =
      if (nCand <= BitsetDocCap) broadcast else identity
    // r14 optimization (guide §2.3 "filter before the expensive
    // work", §2.4 recompute-vs-reuse): the candidate shingle table
    // feeds the universe probe AND both sides of the bitset build —
    // unpinned, the FULL corpus shingle pipeline (scan + words +
    // bigrams + hash explode) re-ran 3-5× per confirm (the r13 pin of
    // the corpus-wide table was rejected exactly because it sat ABOVE
    // the candidate filter and broke scan pushdown; this pin sits
    // BELOW it). When the caller hands us the raw doc table, shingle
    // ONLY the candidate docs — the semi-join moves from post-explode
    // to pre-explode, so the per-doc text work runs on |candidates|,
    // not |corpus| (identical rows: shinglesOf is per-doc and the
    // join key is doc_id either way). The pinned frame is small by
    // construction: candidate docs' (doc_id, sh) longs.
    val candSh = graft.Checkpoints.pin(docs match {
      case Some(dd) => shinglesOf(
        dd.select(col("doc_id"), col("text")).join(hint(candDocs), "doc_id"))
      case None => sh.join(hint(candDocs), "doc_id")
    })
    val universe = candSh.agg(countDistinct(col("sh"))).head().getLong(0)
    if (universe <= BitsetUniverseCap && nCand <= BitsetDocCap) {
      import graft.functions.BitsetFunctions._
      val bits = docBitsets(candSh, universe.toInt)
      withJaccard(cands
        .join(broadcast(bits.select(col("doc_id").as("doc_a"),
          col("bits").as("ba"), col("n_sh").as("n_a"))), "doc_a")
        .join(broadcast(bits.select(col("doc_id").as("doc_b"),
          col("bits").as("bb"), col("n_sh").as("n_b"))), "doc_b")
        .withColumn("common", bitsetIntersectCount(col("ba"), col("bb"))))
    } else {
      // This branch runs precisely when the sets are LARGE (universe
      // past the bitset cap), so the collect_set table is never
      // broadcast-hinted regardless of doc count — its payload is
      // unbounded arrays, not 8-byte keys; the planner shuffles on the
      // doc key and AQE may still broadcast if actual stats allow.
      val sets = candSh.groupBy(col("doc_id"))
        .agg(collect_set(col("sh")).as("shs"))
      cands
        .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (size(array_intersect(col("sa"), col("sb"))).cast("double") /
            size(array_union(col("sa"), col("sb")))).as("jaccard"))
    }
  }

  /** All doc pairs with shingle Jaccard ≥ `t`. Small corpora take the
    * dense-bitset all-pairs strategy (exact by enumeration); past the
    * bitset caps, minhash-banded candidates (self-tuned rows per band)
    * feed the exact confirm — the scale path the ×5 sweep mandated:
    * a PPJoin prefix join is defeated by adversarial tiny-vocab corpora (every prefix shingle
    * hot → tens of millions of candidates, killed at 13 min at ×5 —
    * SURVEY §6), while banded candidates shuffle only signatures and
    * id pairs regardless of vocabulary shape. Confirmed values are
    * exact; completeness past the caps is LSH-recall-conditional with
    * the margin pinned by the PipelineOpsSpec/ScaleJoinsSpec margin
    * specs (every true pair at J ≥ 0.85 → miss ≤ 7e-6 at the r=4
    * tuning point; the consumer threshold here is the same t=0.5 the
    * margin is stated against — [[clusters]] inherits it). On corpora
    * WITHOUT that margin the banded path under-captures pairs near t;
    * the per-run margin probe below measures the confirmed-J
    * distribution against the geometry's safe-J bound and warns when
    * threshold-adjacent mass exists, so the recall condition is
    * checked at runtime, never assumed (advice r8). */
  def jaccardPairsAbove(s: SparkSession, d: String, t: Double): DataFrame = {
    val sh = shingles(s, d)
    val (nUniverse, nDocs) = shStats(sh)
    if (nUniverse <= BitsetUniverseCap && nDocs <= BitsetDocCap)
      withJaccard(ngramPairsBitset(sh, nUniverse.toInt))
        .filter(col("jaccard") >= t)
    else {
      val r = minhashBandRowsFor(nDocs)
      val b = minhashBandsFor(r)
      System.err.println(
        s"[graft] jaccardPairsAbove banded scale path: bandRows=$r (nDocs=$nDocs)")
      val confirmed = graft.Checkpoints.pin(
        exactConfirm(minhashCandidates(sh, b * r, r), sh,
            Some(documents(s, d)))
          .filter(col("jaccard") >= t))
      // Runtime margin probe (advice r8): completeness on this path is
      // LSH-recall-conditional — P(miss | J) = (1-J^r)^b only drops
      // under [[MissBound]] past a geometry-determined "safe" J, and a
      // true pair sitting AT t=0.5 is missed ~36% of the time at the
      // r=4/b=16 point. The missed pairs are unobservable, but the
      // CONFIRMED J distribution is the direct evidence of whether this
      // corpus puts pair mass near the threshold (where misses
      // concentrate): measure it every run and warn, instead of
      // assuming the gated corpora's J ≥ 0.85 margin transfers. The
      // probe reads the pinned confirm output — one tiny aggregate,
      // no extra pass over candidates.
      val safeJ = math.pow(1.0 - math.pow(MissBound, 1.0 / b), 1.0 / r)
      if (safeJ > t) {
        val row = confirmed.agg(
          count(when(col("jaccard") < safeJ, 1)).as("n_near"),
          count(lit(1)).as("n_all")).head()
        val (nNear, nAll) = (row.getLong(0), row.getLong(1))
        if (nNear > 0)
          System.err.println(
            f"[graft] jaccardPairsAbove WARNING: $nNear of $nAll confirmed " +
              f"pairs sit at J in [$t%.2f, $safeJ%.2f), under the banded " +
              f"recall bound at (b=$b, r=$r) — near-threshold TRUE pairs " +
              "are likely under-captured on this corpus; lower bandRows " +
              "or treat the result as recall-conditional")
      }
      confirmed
    }
  }

  /** SimHash fingerprints with 4×16-bit blocking bands (relies on the
    * native Fnv64/SimHash64 Catalyst expressions). Oracle-exact:
    * [[simhashSql]] replays FNV-1a and the bit votes in HUGEINT
    * arithmetic mod 2⁶⁴ — integer-exact, engine-independent (the
    * corpus is ASCII, so `ascii(char)` equals the UTF-8 byte). */
  def simhash(s: SparkSession, d: String): DataFrame = {
    val fp = documents(s, d)
      .select(col("doc_id"), simhash64(words(col("text"))).as("simhash"))
    val cols = Seq(col("doc_id"), col("simhash")) ++
      (0 until 4).map(b =>
        col("simhash").bitwiseAND(lit(0xffffL << (16 * b))).as(s"band$b"))
    fp.select(cols: _*).orderBy(col("doc_id"))
  }

  /** DuckDB replay of JVM FNV-1a over a token column `w`, as an
    * UNSIGNED HUGEINT in [0, 2⁶⁴): a list_reduce folding each char
    * (xor on the low byte, multiply-mod-2⁶⁴ — the 104-bit intermediate
    * product fits HUGEINT). Empty-token guard: DuckDB
    * string_split('', '') yields [''] (one empty chunk), which would
    * fold a spurious ascii('') = 0 step where Spark's fnv1a64("")
    * folds NO bytes and returns the offset basis — and tokens can be
    * empty under consecutive/leading/trailing spaces. Shared by
    * [[simhashSql]] and TextAnalysis.hashFeaturesSql. */
  private[operators] val FnvWordSql: String =
    """list_reduce(
      |  list_concat([CAST('14695981039346656037' AS HUGEINT)],
      |              list_transform(CASE WHEN w = '' THEN CAST([] AS VARCHAR[])
      |                                  ELSE string_split(w, '') END,
      |                             c -> CAST(ascii(c) AS HUGEINT))),
      |  (h, c) -> ((h - h % 256 + CAST(xor(CAST(h % 256 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))
      |             * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))""".stripMargin

  /** Byte-exact twin of [[FnvWordSql]] for NON-ASCII text: the Spark
    * side (HashUtil.fnv1a64) folds UTF-8 BYTES, while [[FnvWordSql]]
    * folds `ascii(c)` CODEPOINTS — identical only while every
    * codepoint < 128 (true of the generated corpus, which is why the
    * ASCII oracles keep the cheaper form). This variant expands each
    * codepoint to its UTF-8 byte sequence in SQL (the standard
    * 1/2/3/4-byte encoding rules) and folds the bytes, so it replays
    * fnv64 exactly on ANY text. Used by the text_fingerprint_utf8
    * gate; property-pinned against fnv64 in Utf8GateSpec. */
  private[graft] val FnvWordBytesSql: String =
    """list_reduce(
      |  list_concat([CAST('14695981039346656037' AS HUGEINT)],
      |    list_transform(flatten(list_transform(
      |      CASE WHEN w = '' THEN CAST([] AS VARCHAR[])
      |           ELSE string_split(w, '') END,
      |      c -> CASE
      |        WHEN ord(c) < 128 THEN [ord(c)]
      |        WHEN ord(c) < 2048 THEN [192 + ord(c)//64, 128 + ord(c)%64]
      |        WHEN ord(c) < 65536 THEN
      |          [224 + ord(c)//4096, 128 + (ord(c)//64)%64, 128 + ord(c)%64]
      |        ELSE [240 + ord(c)//262144, 128 + (ord(c)//4096)%64,
      |              128 + (ord(c)//64)%64, 128 + ord(c)%64] END)),
      |      b -> CAST(b AS HUGEINT))),
      |  (h, c) -> ((h - h % 256 + CAST(xor(CAST(h % 256 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))
      |             * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))""".stripMargin

  /** DuckDB replay of the 64-bit SimHash: FNV-1a per token
    * ([[FnvWordSql]]), then the ±1 bit votes and the band extraction,
    * with the final unsigned→signed int64 conversion matching JVM Long
    * semantics. */
  val simhashSql: String = {
    val fnv = FnvWordSql
    val pow2 = (0 until 64)
      .map(b => s"($b, CAST('${BigInt(1) << b}' AS HUGEINT))").mkString(", ")
    val signFix =
      """(CASE WHEN ufp >= CAST('9223372036854775808' AS HUGEINT)
        |      THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END)""".stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |th AS (SELECT doc_id, $fnv AS h FROM toks),
       |votes AS (
       |  SELECT doc_id, b, SUM(CASE WHEN (h // p) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM th, (VALUES $pow2) AS pw(b, p)
       |  GROUP BY doc_id, b),
       |fp AS (
       |  SELECT doc_id, SUM(CASE WHEN v > 0 THEN p ELSE CAST(0 AS HUGEINT) END) AS ufp
       |  FROM votes JOIN (VALUES $pow2) AS pw(b, p) USING (b)
       |  GROUP BY doc_id)
       |SELECT doc_id,
       |  CAST(ufp - $signFix AS BIGINT) AS simhash,
       |  CAST(ufp % 65536 AS BIGINT) AS band0,
       |  CAST(((ufp // 65536) % 65536) * 65536 AS BIGINT) AS band1,
       |  CAST(((ufp // 4294967296) % 65536) * 4294967296 AS BIGINT) AS band2,
       |  CAST((((ufp // 281474976710656) % 65536) * 281474976710656)
       |    - $signFix AS BIGINT) AS band3
       |FROM fp ORDER BY doc_id""".stripMargin
  }

  /** splitmix64-derived deterministic hyperplanes — full avalanche, so
    * plane components are independent across BOTH p and j.
    * (Similarity.plane's linear congruence is fine for ann_lsh's 6
    * planes but correlates consecutive planes — p enters linearly —
    * which breaks band independence at 256 planes: measured one top-20
    * miss at sf0.001.) Definition lives in
    * [[graft.functions.HyperplaneSigsUtil]] beside the codegen'd
    * signature kernel that consumes it; this delegate keeps the
    * operators-side name for specs. */
  private[operators] def mixedPlane(p: Int, dim: Int): Array[Double] =
    graft.functions.HyperplaneSigsUtil.mixedPlane(p, dim)

  /** Embedding near-dup: top-20 highest-cosine vector pairs, via
    * banded random-hyperplane candidates + exact-cosine confirm —
    * the same candidates→confirm shape as [[minhashLsh]], never a
    * nested-loop over the full pair space.
    *
    * Plan: each vector gets `bands` sign-bit signatures (`bits` planes
    * per band, planes a pure function of (p, j) — Similarity.plane);
    * candidate pairs come from a (band, sig) equi-join that carries ids
    * only; the exact cosine (the same deterministic double fold the
    * oracle uses) is computed for candidates alone. At 100 TB the
    * shuffles move (band, sig, id) triples and id pairs — never the
    * O(n²) pair space and never raw vectors for non-candidates.
    *
    * Recall is corpus-conditional, like dedup_minhash's: the planes are
    * deterministic, so capture on a fixed corpus is a measured fact,
    * not a probability. This synthetic corpus has no planted embedding
    * near-dups (top pair cos ≈ 0.60 at sf0.1 vs background σ = 1/√64 ≈
    * 0.125), so the defaults are tuned loose (4 bits × 64 bands: the
    * exact top-20 is captured at sf 0.001/0.01/0.1 — asserted vs the
    * all-pairs baseline in ScaleJoinsSpec). At production near-dup
    * thresholds (cos ≥ 0.9) the same plan prunes hard with e.g.
    * 12 bits × 32 bands: P(candidate | cos≈0) = 32·2⁻¹² ≈ 0.8%.
    */
  /** Hyperplane-band width for a corpus of `n` vectors: the sweeps
    * measured the fixed-4-bit trap directly (bucket occupancy n/2^bits
    * ⇒ per-bucket candidate pairs grow with its square: 42.8 s at the
    * ×10 corpus vs 10.4 s with 8 bits, IDENTICAL top-20 — SURVEY §6).
    * Anchor: hold occupancy at the GATED corpus level — sf0.1 has
    * 2,000 vectors at the spec-pinned 4 bits, i.e. 125/bucket — so
    * bits = ⌈log₂(n/125)⌉, floored at 4. Exactly 4 at every gated SF
    * (plan and oracle unchanged), 8 at the ×10 sweep corpus (20k
    * vectors — the measured remedy, 2.3× over the r7 anchor's 6
    * bits). The r7 anchor (312/bucket) was mis-anchored against a
    * presumed 5k-vector gated corpus; the r8 ×10 sweep measured the
    * 2.5×-looser occupancy costing 23.6 s vs 10.4 s and the re-anchor
    * recovers it with zero top-20 loss. */
  private[graft] def embeddingBitsFor(n: Long): Int =
    math.max(4, math.ceil(math.log(n / 125.0) / math.log(2)).toInt)

  /** Banded hyperplane signatures: every input row exploded to `bands`
    * rows of (input columns minus `embedding`) + (band, sig), where sig
    * is the `bits`-bit sign pattern of the row's embedding against that
    * band's deterministic hyperplanes ([[mixedPlane]]). The candidate
    * stage shared by [[embeddingPairs]] (corpus-wide near-dup) and
    * [[Similarity.semanticDedup]]'s past-cap in-cluster path — factored
    * so the two can't drift. The embedding column is dropped BEFORE the
    * explode: only (ids, band, sig) ever shuffles, never ×bands copies
    * of the vectors. */
  private[graft] def hyperplaneBanded(df: DataFrame, bits: Int,
      bands: Int, dim: Int): DataFrame = {
    val keep = df.columns.filter(_ != "embedding").map(col).toSeq
    // ONE codegen'd kernel per row (r13 optimization): the former
    // transform(typedLit(planes), p => dot_product(...)) +
    // per-band when/element_at chain ran INTERPRETED per element of a
    // 576-plane literal (HOF lambdas don't codegen), unboxing the
    // plane matrix per row — 56 s of task CPU on the banded audit's
    // 8000-row corpus, paid on BOTH sides of the candidate self-join.
    // HyperplaneSigs runs the identical IEEE fold (float→double
    // promote, left-to-right adds, proj ≥ 0 sign bit) over a cached
    // primitive plane matrix — signatures bit-identical by
    // construction (DedupSpec pins new == old HOF form).
    df.select(keep :+ graft.functions.VectorExpressions
        .hyperplaneSigs(col("embedding"), bits, bands, dim).as("sigs"): _*)
      .select(keep :+ posexplode(col("sigs")).as(Seq("band", "sig")): _*)
  }

  def embeddingPairs(s: SparkSession, d: String, bits: Int = -1,
      bands: Int = 64, dim: Int = 64): DataFrame = {
    val e = graft.Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding"), norm2(col("embedding")).as("n2"))
    // adaptive banding by default: occupancy-flat bits from the corpus
    // row count, read off the parquet FOOTERS on the driver (r8 — no
    // count() job; the rule costs file metadata). The chosen bits are
    // logged so an oracle mismatch on a NEW corpus size is diagnosable
    // in one look: the candidate-recall = 1 property is verified at
    // the measured sizes (ScaleJoinsSpec 5k, sweep 50k), and any other
    // size runs at a bits value whose recall is claimed by the
    // occupancy rule, not yet by a measurement (advice r7).
    val useBits = if (bits > 0) bits
      else {
        val n = graft.Tables.footerRowCount(s, d, "embeddings")
        val b = embeddingBitsFor(n)
        System.err.println(s"[graft] dedup_embedding adaptive bits=$b (n=$n)")
        b
      }
    // pinned (r13): both sides of the candidate self-join below —
    // bands rows per vector of (vec_id, band, sig), the scan +
    // signature kernel runs once instead of twice
    val banded = graft.Checkpoints.pin(hyperplaneBanded(
      e.select(col("vec_id"), col("embedding")), useBits, bands, dim))
    val cands = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    // confirm: ||v||² precomputed once per vector; ONE fused dot per
    // candidate pair — cos = dot / sqrt(n2a*n2b) is the exact
    // expression tree the oracle uses, so results stay bit-equal
    cands
      .join(e.select(col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"), col("n2").as("n2_a")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"),
        col("embedding").as("emb_b"), col("n2").as("n2_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        (dotD(col("emb_a"), col("emb_b")) /
          sqrt(col("n2_a") * col("n2_b"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
      .limit(20)
  }

  /** The all-pairs exactness baseline embeddingPairs is measured
    * against (ScaleJoinsSpec) — deliberately quadratic; not registered
    * as a query. */
  private[graft] def embeddingPairsExact(s: SparkSession, d: String): DataFrame = {
    val e = graft.Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding"), norm2(col("embedding")).as("n2"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (dotD(col("a.embedding"), col("b.embedding")) /
          sqrt(col("a.n2") * col("b.n2"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
      .limit(20)
  }

  val embeddingPairsSql: String =
    s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${Similarity.cosOf("a.embedding", "b.embedding")} AS cos
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |ORDER BY cos DESC, vec_a, vec_b
       |LIMIT 20""".stripMargin

  /** `dedup_fuzzy` — bounded-edit-distance near-duplicate pairs, the
    * one dedup family the token-set methods (Jaccard, MinHash, SimHash)
    * can't express: character-level edits that preserve most tokens but
    * reorder none (OCR noise, typo'd boilerplate, template fills).
    *
    * Plan: classic blocking + confirm. Documents are blocked on
    * (lang, ⌊n_chars/16⌋, first token) — an equi-join key, so candidate
    * generation is a hash join that shuffles only (key, id, 64-char
    * prefix), never full text and never the O(n²) pair space. Confirm
    * computes exact Levenshtein on the bounded prefixes (DP cost capped
    * at 64², per candidate), keeping pairs with distance ≤ `maxDist`.
    *
    * 100 TB: the blocking granularity is the knob — each extra block
    * component divides candidate volume; at production scale the same
    * confirm runs on MinHash-LSH candidates instead (the candidates→
    * confirm composition this repo uses everywhere). The length bucket
    * also bounds worst-case DP work: a pair differing by > 16 in
    * n_chars can't share a block, so no degenerate long-vs-short
    * compares are ever attempted.
    */
  def fuzzy(s: SparkSession, d: String, prefixLen: Int = 64,
      maxDist: Int = 16): DataFrame = {
    val b = graft.Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      // truncating int division == floor for non-negative n_chars,
      // matching the oracle's `//`
      (col("n_chars") / lit(16)).cast("bigint").as("blk_len"),
      substring_index(col("text"), " ", 1).as("blk_tok"),
      substring(col("text"), 1, prefixLen).as("prefix"))
    b.as("x").join(b.as("y"),
        col("x.lang") === col("y.lang") &&
          col("x.blk_len") === col("y.blk_len") &&
          col("x.blk_tok") === col("y.blk_tok") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        levenshtein(col("x.prefix"), col("y.prefix")).as("lev"))
      .filter(col("lev") <= maxDist)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val fuzzySql: String =
    """WITH b AS (
      |  SELECT doc_id, lang, n_chars // 16 AS blk_len,
      |    split_part(text, ' ', 1) AS blk_tok,
      |    substr(text, 1, 64) AS prefix
      |  FROM documents)
      |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |  CAST(levenshtein(x.prefix, y.prefix) AS INT) AS lev
      |FROM b x JOIN b y
      |  ON x.lang = y.lang AND x.blk_len = y.blk_len
      | AND x.blk_tok = y.blk_tok AND x.doc_id < y.doc_id
      |WHERE levenshtein(x.prefix, y.prefix) <= 16
      |ORDER BY doc_a, doc_b""".stripMargin

  /** `dedup_substring` — cross-document duplicated-span coverage, the
    * token-granular exact-substring dedup signal (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): for
    * every doc, what fraction of its tokens sits inside a k-gram
    * (k=8 words) that also appears verbatim in ANOTHER document.
    * Unlike whole-doc dedup (exact/minhash), this catches boilerplate
    * headers, license blocks and quoted passages embedded in otherwise
    * unique documents — the duplication that whole-doc Jaccard dilutes
    * below threshold.
    *
    * Plan: one narrow pass hashes each word once and explodes each doc
    * into (start, xxhash64 of the k word-hashes) — no gram string is
    * ever built, and only the 8-byte gram key leaves the map side; a
    * min/max-over-h window finds grams spanning ≥2 distinct docs (one
    * shuffle, one consumption of the position stream); per-doc interval
    * union by incremental coverage (sort by start inside the doc
    * partition, each interval contributes e − max(prev_max_end,
    * start−1) clamped at 0, and the per-doc sum IS the union length —
    * one running-max window, one co-partitioned groupBy). At 100 TB
    * every stage is either narrow or keyed on gram-hash/doc_id — no
    * pairwise doc join anywhere, and the window runs inside doc
    * partitions (bounded by doc length, not corpus size). Suffix-array
    * dedup finds arbitrary-length spans; fixed-k gram coverage is the
    * bounded-memory distributed approximation (any duplicated span ≥ k
    * words is fully covered by its k-grams; spans < k are below the
    * noise floor). Stage costs at sf0.1 (cumulative prefixes, min-of-3):
    * scan+explode 457 ms, + ≥2-docs window 711 ms, full 1301 ms
    * (BASELINE.md "dedup_substring decomposition"). */
  def substringCoverage(s: SparkSession, d: String, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d)
      .select(col("doc_id"), size(words(col("text"))).as("n_ws"))
    // SINGLE consumption of the explode+md5 pass (r7; was checkpoint +
    // ≥2-doc aggregate + join back — two full-stream shuffles and a
    // materialization): "spans ≥2 distinct docs" needs no COUNT
    // DISTINCT, it is exactly min(doc_id) ≠ max(doc_id) over the gram
    // hash — one window over h consumes the position stream once, in
    // one shuffle, and the checkpoint (which existed only because two
    // consumers defeated ReuseExchange) disappears.
    val wH = Window.partitionBy(col("h"))
    // gram identity hash: xxhash64 over PRE-HASHED words — keying by
    // a ~50-char joined string per gram made the narrow explode pass
    // alone 618 ms of a 1514 ms total at sf0.1. Each word hashes ONCE
    // (n_words ops), then a gram keys as xxhash64 of its k word-hash
    // longs — 64 fixed bytes mixed per gram, zero string allocation.
    // h is never output, it only keys the ≥2-docs window, so the only
    // requirement is injectivity-in-practice (same argument as the
    // shingle joins; the oracle's md5-of-text is equally opaque, and
    // the hash gate would catch a collision-induced dup-set drift).
    val gramKey = (0 until k).map(j => s"element_at(whs, i + $j)").mkString(", ")
    val grams = documents(s, d)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"), expr("transform(ws, w -> xxhash64(w))").as("whs"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(whs) - ${k - 1}), " +
          s"i -> xxhash64($gramKey))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("start"),
        col("col").as("h"))
    // interval union by INCREMENTAL coverage (r9 shave — replaces the
    // gaps-and-islands flag window + (doc_id, isl) regroup, which the
    // profile measured at 626 ms on 21.5k rows, pure machinery): with
    // positions sorted per doc, each interval contributes
    // max(0, e - max(prev_max_end, start-1)) and the per-doc sum IS
    // the union length. One window (running max), then a groupBy on
    // doc_id that REUSES the window's hash partitioning — no second
    // window pass, no extra exchange.
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("start"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val perDoc = grams
      .withColumn("dmin", min(col("doc_id")).over(wH))
      .withColumn("dmax", max(col("doc_id")).over(wH))
      .filter(col("dmin") =!= col("dmax"))
      .select(col("doc_id"), col("start"), (col("start") + (k - 1)).as("e"))
      .withColumn("pm", coalesce(max(col("e")).over(wPrev), lit(0L)))
      .select(col("doc_id"),
        greatest(col("e") - greatest(col("pm"), col("start") - 1), lit(0L))
          .as("cov"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cov")).as("covered_words"),
        count(lit(1)).as("n_dup_grams"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ws").cast("int").as("n_ws"),
        coalesce(col("n_dup_grams"), lit(0L)).cast("bigint").as("n_dup_grams"),
        coalesce(col("covered_words"), lit(0L)).cast("bigint").as("covered_words"),
        when(col("n_ws") === 0, lit(0.0))
          .otherwise(coalesce(col("covered_words"), lit(0L)).cast("double") /
            col("n_ws"))
          .as("dup_fraction"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: same gram identity (md5 of the space-joined k words where
    * the Spark side uses xxhash64 — both are opaque injective-in-
    * practice gram keys, equal results absent collisions), same
    * ≥2-distinct-docs test, same gaps-and-islands union — covered
    * counts are pure integers, so the only double (dup_fraction) is a
    * single int/int division, bit-identical across engines. */
  val substringCoverageSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (
      |  SELECT doc_id, i AS start,
      |    md5(array_to_string(list_slice(ws, i, i + 7), ' ')) AS h
      |  FROM w, UNNEST(generate_series(1, len(ws) - 7)) AS t(i)
      |  WHERE len(ws) >= 8),
      |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
      |pos AS (
      |  SELECT g.doc_id, g.start, g.start + 7 AS e
      |  FROM g JOIN dup USING (h)),
      |flg AS (
      |  SELECT doc_id, start, e,
      |    CASE WHEN start > COALESCE(MAX(e) OVER (PARTITION BY doc_id
      |          ORDER BY start ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |          -1) THEN 1 ELSE 0 END AS flag
      |  FROM pos),
      |isl AS (
      |  SELECT doc_id, start, e,
      |    SUM(flag) OVER (PARTITION BY doc_id ORDER BY start
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |  FROM flg),
      |seg AS (
      |  SELECT doc_id, isl, MIN(start) AS s0, MAX(e) AS e1, COUNT(*) AS ng
      |  FROM isl GROUP BY doc_id, isl),
      |cov AS (
      |  SELECT doc_id, SUM(e1 - s0 + 1) AS covered_words, SUM(ng) AS n_dup_grams
      |  FROM seg GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(string_split(d.text, ' ')) AS INT) AS n_ws,
      |  CAST(COALESCE(cov.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
      |  CAST(COALESCE(cov.covered_words, 0) AS BIGINT) AS covered_words,
      |  CASE WHEN len(string_split(d.text, ' ')) = 0 THEN 0.0
      |       ELSE CAST(COALESCE(cov.covered_words, 0) AS DOUBLE)
      |            / len(string_split(d.text, ' ')) END AS dup_fraction
      |FROM documents d LEFT JOIN cov USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Bloom parameters, shared verbatim by the oracle. m is a power of
    * two well above 4 hashes × corpus size (16k set bits of 131,072 →
    * ~12% fill, fpp ≈ 0.12⁴ ≈ 2e-4 on this corpus). */
  val BloomBits = 131072L
  val BloomHashes = 4

  /** `dedup_bloom` — Bloom-filter incremental dedup: the
    * membership-probe primitive for "is this incoming document already
    * in the corpus?" at 100 TB, where the exact answer (a shuffle join
    * of the batch against the full corpus hash set) is the thing you
    * cannot afford per ingest tick. The corpus side compresses to a
    * fixed-size bit set that BROADCASTS; each batch doc probes locally;
    * only the (tiny) hit set pays the exact confirm join — the same
    * candidates→confirm discipline as minhash/LSH, applied to exact
    * membership. No false negatives by construction; false positives
    * are bounded by the fill factor and washed out by the confirm.
    *
    * Everything is engine-portable, so the oracle replays the FILTER
    * ITSELF, not just the final answer: positions are double-hashed
    * from md5 (h1 = hex[1,15], h2 = hex[16,15], posᵢ = (h1+i·h2) mod
    * m — Kirsch-Mitzenmacher), the corpus bit set is the DISTINCT
    * position set, and a probe hits iff ALL its distinct positions are
    * set — plain relational algebra on both engines, bit-identical.
    *
    * Spark shape: the corpus position set aggregates to ≤ m rows and
    * broadcasts into the probe join (at real scale the same positions
    * pack into a bitmap via a bounded aggregate and ship as one row —
    * the join below IS that bitmap lookup, expressed relationally);
    * the batch side never shuffles by content. Output per batch doc:
    * bloom_hit (probe answer) and true_dup (exact confirm), so the
    * false-positive behaviour is itself part of the gated result. */
  def bloomDedup(s: SparkSession, d: String): DataFrame = {
    val m = BloomBits
    val k = BloomHashes
    // hash the full text ONCE for all five consumers (corpus bits,
    // batch probes, batch hits, exact confirm both sides): the
    // checkpoint pins the narrow (doc_id, h1, h2) table — without it
    // each consumer re-scans documents and re-md5s every text (the
    // dedup_substring single-consumption lesson; harness sweep frees)
    val h = md5(col("text").cast("binary"))
    val (hashedAll, _) = graft.Checkpoints.tracked(
      documents(s, d).select(col("doc_id"),
        conv(substring(h, 1, 15), 16, 10).cast("long").as("h1"),
        conv(substring(h, 16, 15), 16, 10).cast("long").as("h2")))
    def positions(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("h1"), col("h2"),
          explode(sequence(lit(0), lit(k - 1))).as("i"))
        .select(col("doc_id"),
          pmod(col("h1") + col("i") * col("h2"), lit(m)).as("pos"))
        .distinct() // K-M doubles can collide within a doc: count sets, not probes
    val corpus = hashedAll.filter(col("doc_id") % 10 < 8)
    val batch = hashedAll.filter(col("doc_id") % 10 >= 8)
    val bits = positions(corpus).select(col("pos")).distinct()
    val probes = positions(batch)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_pos"))
    val hits = positions(batch).join(broadcast(bits), "pos")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    // exact confirm: batch content hash present in the corpus hash set
    val corpusH = corpus.select(col("h1").as("c1"), col("h2").as("c2")).distinct()
    val dups = batch
      .join(corpusH, col("h1") === col("c1") && col("h2") === col("c2"),
        "left_semi")
      .select(col("doc_id"))
    probes.join(hits, Seq("doc_id"), "left")
      .join(dups.withColumn("td", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("n_hit"), lit(0L)) === col("n_pos")).as("bloom_hit"),
        coalesce(col("td"), lit(false)).as("true_dup"))
      .orderBy(col("doc_id"))
  }

  val bloomDedupSql: String = {
    val m = BloomBits
    val k = BloomHashes
    // 15-hex-char → BIGINT, the q49 hexval replay (DuckDB has no conv)
    def hexval(e: String): String =
      s"""list_reduce(list_transform(string_split(substr($e, 1, 15), ''),
         |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
         |      (a, d) -> a * 16 + d)""".stripMargin
    s"""WITH h AS (
      |  SELECT doc_id,
      |    ${hexval("md5(text)")} AS h1,
      |    ${hexval("substr(md5(text), 16, 15)")} AS h2
      |  FROM documents),
      |cpos AS (
      |  SELECT DISTINCT (h1 + i * h2) % $m AS pos
      |  FROM h, UNNEST(generate_series(0, ${k - 1})) AS t(i)
      |  WHERE doc_id % 10 < 8),
      |bpos AS (
      |  SELECT DISTINCT doc_id, (h1 + i * h2) % $m AS pos
      |  FROM h, UNNEST(generate_series(0, ${k - 1})) AS t(i)
      |  WHERE doc_id % 10 >= 8),
      |probes AS (SELECT doc_id, COUNT(*) AS n_pos FROM bpos GROUP BY doc_id),
      |hits AS (
      |  SELECT doc_id, COUNT(*) AS n_hit
      |  FROM bpos JOIN cpos USING (pos) GROUP BY doc_id),
      |dups AS (
      |  SELECT DISTINCT b.doc_id
      |  FROM h b JOIN h c ON b.h1 = c.h1 AND b.h2 = c.h2
      |  WHERE b.doc_id % 10 >= 8 AND c.doc_id % 10 < 8)
      |SELECT p.doc_id,
      |  COALESCE(hits.n_hit, 0) = p.n_pos AS bloom_hit,
      |  p.doc_id IN (SELECT doc_id FROM dups) AS true_dup
      |FROM probes p LEFT JOIN hits USING (doc_id)
      |ORDER BY doc_id""".stripMargin
  }
}
