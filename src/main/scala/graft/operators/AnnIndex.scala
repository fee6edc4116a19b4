package graft.operators

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index (SURVEY.md §2.4 `ann_index_build` /
  * `ann_index_query`) — the billion-vector SERVING shape.
  *
  * Every PQ-family query used to retrain codebooks and re-encode the
  * corpus per invocation; at serving scale that cost belongs in an
  * OFFLINE build. [[build]] materializes the three index artifacts to
  * parquet exactly once per corpus version:
  *
  *   - `coarse/`   — the IVF coarse centroids (c_id, c_emb), the
  *                   deterministic vec_id%50 sample of the normalized
  *                   corpus ([[Similarity.ivfpq]]'s cells);
  *   - `codebook/` — the m×ksub PQ codebook (sub, code, c_sv) from
  *                   [[Similarity.pqCodebook]] (seeded + one Lloyd
  *                   refinement, floor-quantised means);
  *   - `codes/`    — one row per vector: (vec_id, cell, codes[16]) —
  *                   the 16×4-bit ≙ 8-byte PQ code plus its coarse
  *                   cell. This is the ONLY per-vector state a query
  *                   touches; raw vectors are read again only by the
  *                   exact re-rank point-lookup.
  *
  * Query-time ([[ivfpqQuery]]) then does what a FAISS-style server
  * does: normalize the query vector, pick nprobe cells against the
  * stored coarse centroids (a ≤n/50-row broadcast), scan ONLY the
  * probed cells' stored codes, rank by ADC against a broadcast m×ksub
  * distance table, and exact-rerank the top-c survivors by id lookup.
  * Nothing is retrained and no raw vector outside the query row and
  * the c re-rank candidates is touched — at 100 TB the per-query cost
  * is (codes-in-probed-cells × 8 bytes) + c point fetches.
  *
  * Staleness safety: the index directory is keyed by a fingerprint of
  * the source parquet ([[graft.SourceKey]]: every file of the tree)
  * plus the index parameters and format version, so a driver-side testdata
  * regeneration can NEVER be served stale — the fingerprint moves and
  * the index rebuilds. The dir's record and pruning are
  * [[graft.SourceKey.buildArtifact]]'s. [[stats]] (the gated
  * `ann_index_build` query) force-rebuilds unconditionally: it IS the
  * materialization operator, and its timing must measure the build,
  * not a cache hit.
  *
  * Determinism: every stored artifact is bit-deterministic (seeded
  * sample, floor-quantised DECIMAL-summed Lloyd means, FLOAT rounding
  * — the [[Similarity.pqCodebook]] guarantees), and floats round-trip
  * parquet exactly, so serving from the index is bit-identical to the
  * inline pipelines — the DuckDB oracles for ann_pq/ann_ivfpq(_rerank)
  * replay the TRAINING (pqCtes/ivfpqCtes) and still hash-match the
  * served results (AnnIndexSpec pins served == inline).
  */
object AnnIndex {
  /** Index parameters — fixed to [[Similarity.pq]]/[[Similarity.ivfpq]]
    * defaults so the stored index answers the same queries. */
  val M = 16
  val Ksub = 16
  /** Shared with the inline pipelines — serving must answer the exact
    * same top-k (see [[Similarity.Nprobe]] for the measured recall
    * rationale behind the value). */
  val Nprobe: Int = Similarity.Nprobe
  private val FormatVersion = 1
  private val Params = s"v$FormatVersion:m=$M:ksub=$Ksub"

  /** Index dir name: the [[graft.SourceKey.digest]] of the source
    * table + index parameters, so any regeneration, source path change
    * or param/format bump yields a new index directory. */
  private[graft] def fingerprint(d: String): String =
    graft.SourceKey.digest(d, "embeddings", Params)

  /** `target/ann_index/<fingerprint>`, the index dir of `d`'s corpus. */
  private[graft] def dirFor(d: String): String =
    graft.SourceKey.artifactDir("ann_index", d, "embeddings", Params)
  private def marker(dir: String) = java.nio.file.Paths.get(dir, "_GRAFT_INDEX_OK")

  /** In-session memo of completed builds: after the first ensure() the
    * remaining PQ-family queries skip even the marker stat. Keyed by
    * the fingerprinted dir, so a regeneration mid-session still misses. */
  private val builtMemo = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Build-if-absent; returns the index dir. The marker file is written
    * LAST, so a killed half-finished build reads as absent, never as a
    * servable index. */
  def ensure(s: SparkSession, d: String): String = {
    val dir = dirFor(d)
    if (builtMemo.contains(dir)) return dir
    if (!java.nio.file.Files.exists(marker(dir))) build(s, d)
    builtMemo.add(dir)
    dir
  }

  /** Hardlink a directory tree (copy fallback across filesystems) —
    * O(files), never O(bytes), on one volume. */
  private def linkTree(from: java.io.File, to: java.io.File): Unit = {
    to.mkdirs()
    from.listFiles.foreach { f =>
      val t = new java.io.File(to, f.getName)
      if (f.isDirectory) linkTree(f, t)
      else
        try java.nio.file.Files.createLink(t.toPath, f.toPath)
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          java.nio.file.Files.copy(f.toPath, t.toPath): Unit
        }
    }
  }

  /** Force (re)build the index for `d`'s corpus. The dir's lifecycle
    * (source record, pruning superseded and orphaned siblings) is
    * [[graft.SourceKey.buildArtifact]]'s; every dir it prunes leaves
    * [[builtMemo]], so no serve reads a deleted path. */
  def build(s: SparkSession, d: String): String = {
    val dir = dirFor(d)
    builtMemo.remove(dir)
    graft.SourceKey.buildArtifact(dir, d, "embeddings")(writeIndex(s, d, dir))
      .foreach(builtMemo.remove)
    builtMemo.add(dir)
    dir
  }

  private def writeIndex(s: SparkSession, d: String, dir: String): Unit = {
    // the base (trained-on) count is the footer count, so staleness
    // is a meta-file read, never a count() job
    trainInto(s, d, dir, Similarity.normalizedEmb(s, d))
    java.nio.file.Files.writeString(baseMeta(dir),
      graft.Tables.footerRowCount(s, d, "embeddings").toString): Unit
    java.nio.file.Files.createFile(marker(dir)): Unit
  }

  /** Train coarse centroids and the PQ codebook on the normalized
    * vectors `e` and write the three artifacts of `d`'s index into
    * `dir`: the core [[build]] and [[buildSubset]] share. */
  private def trainInto(s: SparkSession, d: String, dir: String, e: DataFrame): Unit = {
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    require(dim % M == 0, s"dim $dim not divisible into $M subspaces")
    val subLen = dim / M
    val cents0 = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val cb = Similarity.pqCodebook(e, M, subLen, Ksub, lloydIters = 1)
    // fanning this scan out to core count measured neutral: the cost
    // is the training shuffles and the three writes, not the encode
    val codes = encodeVectors(e, cents0, cb, subLen)
    // File counts follow the row count: about 2M rows per file, so a
    // billion-vector codes table writes about 500 files and a small
    // corpus one. coarse is n/50 rows, so it scales the same way; the
    // codebook is m×ksub = 256 rows and always one file.
    val nVecs = graft.Tables.footerRowCount(s, d, "embeddings")
    def filesFor(rows: Long): Int =
      math.max(1L, (rows + 1999999L) / 2000000L).toInt
    cents0.repartition(filesFor(nVecs / 50)).write
      .mode("overwrite").parquet(s"$dir/coarse")
    cb.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")
    codes.repartition(filesFor(nVecs)).write
      .mode("overwrite").parquet(s"$dir/codes")
  }

  /** Encode normalized vectors against GIVEN coarse centroids and PQ
    * codebook: nearest-cell assignment + per-subspace nearest-code
    * quantisation, (vec_id, codes[m], cell) out. Shared bit-for-bit by
    * [[build]] (whole corpus) and [[append]] (new batch only) — same
    * window expressions, same artifacts in, so an appended vector's
    * row is indistinguishable from the one a full build would have
    * written (AnnIndexSpec pins the equality). */
  private def encodeVectors(e: DataFrame, cents: DataFrame, cb: DataFrame,
      subLen: Int): DataFrame = {
    // argmin via min_by over a (cd2, key) struct instead of a
    // row_number window (OPTIMIZATION_r13.md item 4): the window
    // SORT-shuffled the full n×(cells) assignment table (n²/50 rows at
    // corpus scale — the dominant exchange of every offline
    // build/append); min_by is a
    // hash aggregate with MAP-SIDE partials, so the exchange carries
    // one row per vector. Selection identical by construction: the
    // struct's lexicographic minimum is exactly the window's
    // (cd2 ASC, key ASC) first row — keys are distinct per group, so
    // no tie survives to unspecified behavior. Hash gates + the
    // AnnIndexSpec served==inline pins cover the equality.
    val assigned = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("c_id"),
        Similarity.sqDiff(col("embedding"), col("c_emb")).as("cd2"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("c_id"), struct(col("cd2"), col("c_id"))).as("cell"))
    val codesFlat = Similarity.subvecsOf(e, "embedding", M, subLen)
      .join(broadcast(cb), "sub")
      .select(col("vec_id"), col("sub"), col("code"),
        Similarity.sqDiff(col("sv"), col("c_sv")).as("cd2"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("code"), struct(col("cd2"), col("code"))).as("code"))
    // one row per vector, codes ordered by sub — the packed-codes shape
    codesFlat
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
      .select(col("vec_id"),
        transform(col("sc"), p => p.getField("code")).as("codes"))
      .join(assigned, "vec_id")
  }

  /** Fraction of appended (post-build) vectors beyond which the index
    * reports stale: past this, accumulated drift between the frozen
    * codebook/centroids and the corpus distribution erodes recall and
    * a retraining rebuild is due — the standard IVF maintenance
    * policy. 20%: comfortably before the centroid-imbalance regime,
    * and the recall probe (ann_recall.json, emitted every verify run)
    * is the empirical backstop. */
  val StaleFraction = 0.2
  private def appendedMeta(dir: String) =
    java.nio.file.Paths.get(dir, "_GRAFT_INDEX_APPENDED")
  private def baseMeta(dir: String) =
    java.nio.file.Paths.get(dir, "_GRAFT_INDEX_BASE")
  private def deletedMeta(dir: String) =
    java.nio.file.Paths.get(dir, "_GRAFT_INDEX_DELETED")

  private def metaLong(p: java.nio.file.Path): Long =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.readString(p).trim.toLong
    else 0L

  /** Count of vectors appended since the last full build. */
  private[graft] def appendedCount(dir: String): Long =
    metaLong(appendedMeta(dir))

  /** Count of vectors tombstoned since the last full build. */
  private[graft] def deletedCount(dir: String): Long =
    metaLong(deletedMeta(dir))

  /** True once (appended + deleted)/base exceeds [[StaleFraction]] —
    * the signal to schedule a retraining [[build]] (which resets both
    * counters). Deletes count toward drift just like appends:
    * tombstoned cells keep paying scan cost for rows that can never
    * serve, and the trained
    * centroids/codebook drift from the SURVIVING distribution exactly
    * as they do when new vectors arrive. The pipeline decides WHEN;
    * serving from a stale index stays correct (codes are exact
    * nearest-code under the stored codebook, tombstones are exact),
    * it is the approximation quality that decays. Pure meta-file
    * reads — the base count is recorded at build time, so no count()
    * job. */
  def isStale(s: SparkSession, d: String): Boolean = isStaleAt(dirFor(d))

  private[graft] def isStaleAt(dir: String): Boolean = {
    val drifted = appendedCount(dir) + deletedCount(dir)
    drifted > 0 && {
      val base = metaLong(baseMeta(dir))
      base <= 0 || drifted.toDouble / base > StaleFraction
    }
  }

  /** The newest COMPLETE index dir recorded for `d`'s source, other
    * than the current-fingerprint dir: the adoption base when the
    * source table has grown since the last build. Variants
    * (`<fingerprint>_<name>`) are never a base: carrying an erasure
    * variant's tombstones into the main line would erase vectors
    * nobody asked to forget. */
  private def priorDirFor(d: String): Option[java.io.File] = {
    val cur = new java.io.File(dirFor(d))
    Option(cur.getParentFile.listFiles).getOrElse(Array.empty[java.io.File])
      .filter(x => x.getName != cur.getName && !x.getName.contains('_') &&
        new java.io.File(x, "_GRAFT_INDEX_OK").isFile &&
        graft.SourceKey.recordsSource(x, d, "embeddings"))
      .sortBy(-_.lastModified)
      .headOption
  }

  /** Adopt a prior index's artifacts into the current-fingerprint dir
    * without retraining: HARDLINK every artifact file (copy fallback
    * across filesystems — O(files), never O(bytes), on one volume),
    * carry the base/appended counters, and write the marker LAST so a
    * killed adoption reads as absent. `dir` must be new or empty. */
  private def adoptArtifacts(prev: java.io.File, dir: String): Unit = {
    val dirF = new java.io.File(dir)
    // `deleted/` tombstones travel with the artifacts: an erasure must
    // survive a fingerprint move (source growth) — a GDPR drop that
    // silently resurrected on the next append would be a compliance
    // bug, not a cache quirk
    Seq("coarse", "codebook", "codes", "deleted")
      .filter(sub => new java.io.File(prev, sub).isDirectory)
      .foreach(sub =>
        linkTree(new java.io.File(prev, sub), new java.io.File(dirF, sub)))
    Seq("_GRAFT_INDEX_BASE", "_GRAFT_INDEX_APPENDED",
        "_GRAFT_INDEX_DELETED").foreach { m =>
      val f = new java.io.File(prev, m)
      if (f.isFile)
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(dirF, m).toPath): Unit
    }
    java.nio.file.Files.createFile(marker(dir)): Unit
  }

  /** Incremental maintenance — FAISS `add()` semantics: encode ONLY
    * `batch` (vec_id, embedding; raw — normalized here with the
    * build-path expression) against the STORED centroids and codebook
    * into their cells, landed as additional code files. Nothing is
    * retrained, so appending N vectors costs O(N · (cells + m·ksub))
    * instead of a per-corpus-version rebuild: rebuilds happen only
    * when the appended fraction passes [[StaleFraction]].
    *
    * The PRODUCTION shape: new vectors land in the
    * source table (so the exact-rerank id-lookups can see them), which
    * MOVES the content fingerprint — append therefore ADOPTS the prior
    * same-source index's artifacts into the new fingerprint dir
    * (hardlinks, no retraining, no byte copies on one volume) before
    * encoding the batch. With no prior index to extend, a fresh
    * [[build]] necessarily covers the batch already (it encodes the
    * whole current source) and append degenerates to it. Every serving
    * query picks appended vectors up immediately: they are ordinary
    * rows of `codes/`, and the raw vectors for re-ranking are in the
    * grown source table.
    *
    * Idempotent: re-submitting a batch (retry after a crash mid-append,
    * or an at-least-once upstream) never lands duplicate code rows —
    * the batch anti-joins the stored vec_ids first. */
  def append(s: SparkSession, d: String, batch: DataFrame): String = {
    val dir = dirFor(d)
    if (!java.nio.file.Files.exists(marker(dir))) {
      priorDirFor(d) match {
        // the adoption is a build of `dir`: the prior dir is pruned
        // as superseded once its artifacts are linked
        case Some(prev) =>
          graft.SourceKey.buildArtifact(dir, d, "embeddings")(adoptArtifacts(prev, dir))
            .foreach(builtMemo.remove)
        case None => return build(s, d) // fresh build = batch included
      }
    }
    builtMemo.add(dir)
    appendAt(s, dir, batch)
    dir
  }

  /** The dir-addressed append core ([[append]] minus the fingerprint-
    * adoption dance) — shared with the incremental-build audit, which
    * appends into its own subset-trained dir. Returns the count of
    * NEWLY landed vectors. */
  private[graft] def appendAt(s: SparkSession, dir: String, batch: DataFrame): Long = {
    val cents = s.read.parquet(s"$dir/coarse")
    val cb = s.read.parquet(s"$dir/codebook")
    val subLen = subLenAt(s, dir)
    // Idempotency: a retried append — a crash between the
    // non-atomic codes write and the counter update, or a caller
    // re-submitting a batch that already landed — must not duplicate
    // (vec_id, codes) rows: duplicated candidates would occupy multiple
    // top-k slots in ivfpq serving and displace true neighbors. The
    // batch is anti-joined against the stored vec_ids first, so only
    // genuinely-new vectors encode and the appended counter advances by
    // what was actually written. Cost: one pass over codes/' vec_id
    // column (8 bytes/vector, min/max-pruned parquet pages) — the
    // shuffle carries batch-side ids only, never codes or vectors.
    val fresh = graft.Checkpoints.pin(
      batch.select(col("vec_id"), col("embedding"))
        .join(s.read.parquet(s"$dir/codes").select(col("vec_id")),
          Seq("vec_id"), "left_anti"))
    val n = fresh.count()
    if (n == 0) return 0L
    val e = Similarity.normalizeVecs(fresh)
    // batch-sized file count — an append must not litter codes/ with
    // shuffle.partitions near-empty files per call
    val nFiles = math.max(1L, (n + 1999999L) / 2000000L).toInt
    encodeVectors(e, cents, cb, subLen).repartition(nFiles)
      .write.mode("append").parquet(s"$dir/codes")
    java.nio.file.Files.writeString(appendedMeta(dir),
      (appendedCount(dir) + n).toString): Unit
    if (isStaleAt(dir))
      System.err.println(s"[graft] ann index $dir exceeded append " +
        s"fraction $StaleFraction: schedule a retraining build")
    n
  }

  /** Right-to-erasure eviction — the derived-artifact leg of the
    * etl_forget cascade: tombstone `ids` in the stored index so
    * every serving entry point (pq / ivfpq / rerank / batch k-NN join
    * — all read codes through [[codesAt]]) provably excludes them,
    * effective immediately and surviving fingerprint moves
    * ([[adoptArtifacts]] carries `deleted/`). Tombstones, not a cell
    * rewrite: an erasure request is ids-sized, the codes table is
    * corpus-sized — the rewrite belongs in the next retraining
    * [[build]], which starts from the (already-cascaded) source table
    * and resets the counters. Deletes count toward [[isStale]] like
    * appends, so heavy erasure schedules that retrain.
    *
    * Idempotent (the append discipline): only ids actually present in
    * the stored codes and not already tombstoned are written or
    * counted, so retries and overlapping erasure batches can't inflate
    * the staleness counter. Erasure is terminal until retrain:
    * [[append]] anti-joins the RAW codes (tombstoned rows included),
    * so a "re-add" of an erased id is a no-op, never a resurrection.
    * Returns the count of newly tombstoned vectors. */
  def delete(s: SparkSession, d: String, ids: DataFrame): Long =
    deleteAt(s, ensure(s, d), ids)

  private[graft] def deleteAt(s: SparkSession, dir: String,
      ids: DataFrame): Long = {
    val tomb = s"$dir/deleted"
    var fresh = ids.select(col("vec_id")).distinct()
      .join(s.read.parquet(s"$dir/codes").select(col("vec_id")),
        Seq("vec_id"), "left_semi")
    if (new java.io.File(tomb).isDirectory)
      fresh = fresh.join(s.read.parquet(tomb), Seq("vec_id"), "left_anti")
    val pinned = graft.Checkpoints.pin(fresh)
    val n = pinned.count()
    if (n > 0) {
      // ids-only payload: one small file per erasure batch, not
      // shuffle.partitions near-empty ones (the append sizing rule)
      pinned.coalesce(1).write.mode("append").parquet(tomb)
      java.nio.file.Files.writeString(deletedMeta(dir),
        (deletedCount(dir) + n).toString): Unit
      if (isStaleAt(dir))
        System.err.println(s"[graft] ann index $dir exceeded drift " +
          s"fraction $StaleFraction after delete: schedule a retraining build")
    }
    n
  }

  /** A scratch COPY of `d`'s index under `<fingerprint>_<name>`,
    * recreated fresh per call (hardlink adoption — O(files), no
    * retraining, no byte copies on one volume), which [[priorDirFor]]
    * never adopts into the main line. The isolation layer for
    * [[forgetAudit]]: the gated erasure audit must not mutate the
    * shared index the other gated queries serve from. A variant lives
    * and is pruned with its fingerprint dir
    * ([[graft.SourceKey.buildArtifact]]). */
  private[graft] def variant(s: SparkSession, d: String, name: String): String = {
    val main = ensure(s, d)
    val vdir = s"${main}_$name"
    FileUtils.deleteQuietly(new java.io.File(vdir))
    adoptArtifacts(new java.io.File(main), vdir)
    vdir
  }

  /** MEMOIZED variant preparation: the audit
    * variants' mutation sequences are DETERMINISTIC given the source
    * fingerprint (forget: residue derived from the stored index's
    * top-1; compact: a fixed residue class), so rebuilding the scratch
    * index on every invocation only re-derives the same bytes — the
    * ensure() discipline applies. `prep` runs once per (fingerprint,
    * name); its returned string is persisted in the READY marker and
    * handed back verbatim on every later call, so audit columns
    * computed during prep (erased/surviving counts) replay without
    * re-mutating. Crash-safe the marker way: READY is written LAST, a
    * kill mid-prep reads as "variant absent" and the next call
    * re-adopts fresh (partial state is deleted first). A source
    * regeneration moves the fingerprint, hence the variant key; a
    * stale variant is pruned with its fingerprint dir. */
  private[graft] def preparedVariant(s: SparkSession, d: String, name: String)(
      prep: String => String): (String, String) = {
    val vdir = s"${ensure(s, d)}_$name"
    val ready = java.nio.file.Paths.get(vdir, "_GRAFT_VARIANT_READY")
    if (java.nio.file.Files.exists(ready))
      return (vdir, java.nio.file.Files.readString(ready))
    variant(s, d, name)
    val meta = prep(vdir)
    // tmp + ATOMIC_MOVE (the writeManifest discipline): the marker's
    // EXISTENCE is the commit gate, so a torn write would wedge every
    // later audit on a truncated payload with no re-prep path
    val tmp = java.nio.file.Paths.get(vdir, "_GRAFT_VARIANT_READY.tmp")
    java.nio.file.Files.writeString(tmp, meta): Unit
    java.nio.file.Files.move(tmp, ready,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    (vdir, meta)
  }

  /** `ann_forget` — the erasure audit: compose
    * etl_forget's right-to-erasure semantics with the persisted ANN
    * index. The erasure set is a 10% bulk GDPR drop chosen to
    * PROVABLY displace served results: every vec_id sharing the
    * pre-erasure top-1 neighbor's residue class mod 10 (data-derived,
    * so the audit is never vacuous on any corpus — the strongest
    * neighbor itself is always erased). Tombstones land in a scratch
    * [[variant]] of the stored index, then the full production path
    * (probe cells → ADC → exact rerank) serves from it. The hash gate
    * proves the served top-k excludes every erased id; `newly_promoted`
    * marks results that hold a slot ONLY because an erased vector
    * vacated it — the audit column a compliance review actually reads.
    * (If the class hits the %50≡0 centroid sample, the trained coarse
    * centroids stay — erasure removes SERVABLE rows, not trained
    * artifacts, the FAISS remove_ids semantics; the next retraining
    * build starts from the cascaded source.)
    *
    * At 100 TB: the variant is hardlink adoption + an ids-only
    * tombstone write; serving cost is identical to ann_index_query
    * (the pre-erasure top-k read here is k driver rows, bounded by the
    * serve limit). A real pipeline calls [[delete]] on the main index
    * instead — the variant isolation exists because THIS run's sibling
    * queries must keep serving the unerased corpus. */
  def forgetAudit(s: SparkSession, d: String, queryId: Long = Similarity.AuditQueryId,
      k: Int = 10): DataFrame = {
    val pre = ivfpqRerankQueryAt(s, d, ensure(s, d), queryId, k)
      .collect().map(_.getLong(0)).toSeq
    val residue = pre.head % 10
    // memoized: the erasure set is a deterministic function of the
    // stored index, so the tombstoned variant is prepared once per
    // fingerprint and every later audit serves straight from it
    val (vdir, _) = preparedVariant(s, d, "forget") { vd =>
      val erased = graft.Tables.embeddings(s, d)
        .select(col("vec_id")).filter(col("vec_id") % 10 === residue)
      deleteAt(s, vd, erased).toString
    }
    val post = ivfpqRerankQueryAt(s, d, vdir, queryId, k)
    // k rows past this point: the global rank window is bounded by the
    // serve limit, not data size
    val w = Window.orderBy(col("cos").desc, col("vec_id"))
    post.withColumn("rnk", row_number().over(w))
      .select(col("vec_id"), col("cos"), col("rnk"),
        (!col("vec_id").isin(pre: _*)).as("newly_promoted"))
      .orderBy(col("rnk"))
  }

  /** The erasure audit replayed as DuckDB SQL: the SHARED ivfpq serve
    * chain (Similarity.ivfpqCtes — one definition with the
    * ann_ivfpq(_rerank) oracles) ranked twice from the same per-vector
    * ADC table: unfiltered (`pre`, the pre-erasure top-k) and with the
    * erasure predicate applied before the top-50 cut (`post` —
    * exactly where the Spark side's tombstone anti-join sits, BEFORE
    * candidate selection, so vacated slots refill from the next-best
    * ADC candidates on both engines). Exact for the same reason every
    * PQ-family oracle is: one quantised IEEE expression sequence,
    * present verbatim on both sides. */
  val forgetSql: String = {
    import Similarity.{cosOf, ivfpqCtes}
    s"""$ivfpqCtes,
       |cand50_pre AS (SELECT vec_id FROM adcq ORDER BY adc_dist2, vec_id LIMIT ${Similarity.RerankC}),
       |pre AS (
       |  SELECT e.vec_id, ${cosOf("e.embedding", "q.q_emb")} AS cos
       |  FROM embeddings e JOIN cand50_pre USING (vec_id)
       |  CROSS JOIN (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = ${Similarity.AuditQueryId}) q
       |  ORDER BY cos DESC, vec_id LIMIT 10),
       |res AS (SELECT vec_id % 10 AS r FROM pre ORDER BY cos DESC, vec_id LIMIT 1),
       |cand50_post AS (
       |  SELECT vec_id FROM adcq WHERE vec_id % 10 <> (SELECT r FROM res)
       |  ORDER BY adc_dist2, vec_id LIMIT ${Similarity.RerankC}),
       |post AS (
       |  SELECT e.vec_id, ${cosOf("e.embedding", "q.q_emb")} AS cos
       |  FROM embeddings e JOIN cand50_post USING (vec_id)
       |  CROSS JOIN (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = ${Similarity.AuditQueryId}) q
       |  ORDER BY cos DESC, vec_id LIMIT 10),
       |ranked AS (
       |  SELECT vec_id, cos,
       |    ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rnk
       |  FROM post)
       |SELECT r.vec_id, r.cos, CAST(r.rnk AS INT) AS rnk,
       |  (p.vec_id IS NULL) AS newly_promoted
       |FROM ranked r LEFT JOIN pre p ON r.vec_id = p.vec_id
       |ORDER BY rnk""".stripMargin
  }

  /** Physical compaction — the maintenance step [[isStale]] schedules
    * when retraining is NOT yet warranted but the index has accreted
    * operational debt: tombstoned rows still occupying probed cells
    * (every serve pays their scan + anti-join cost forever) and
    * append-sized code files fragmenting `codes/` (footer listings
    * grow per append batch). Compaction rewrites `codes/` WITHOUT the
    * tombstoned rows into size-targeted files (the build sizing rule:
    * ~2M rows per file), drops `deleted/`, folds appends into the base
    * (base = surviving count, appended = deleted = 0) — so the drift
    * clock restarts without retraining, the FAISS
    * `remove_ids`-then-`merge` maintenance shape. Trained artifacts
    * (coarse centroids, codebook) are untouched: served results are
    * IDENTICAL before/after by construction (AnnIndexSpec pins it) —
    * only the serve-path cost changes.
    *
    * Crash-safe the marker way: survivors land in a staging dir first,
    * then the `_GRAFT_INDEX_OK` marker comes OFF for the swap and back
    * on after — a kill mid-swap reads as "index absent" (ensure()
    * rebuilds), never as a half-compacted index. At 100 TB the rewrite
    * is one pass over codes (8-byte rows, no vectors, no shuffle
    * beyond the repartition), strictly cheaper than the retraining
    * build it defers.
    *
    * Erasure semantics after compaction match a retraining build's:
    * the tombstones are CONSUMED (the rows are physically gone), so
    * terminality transfers to the source-table cascade — etl_forget
    * must have removed the erased rows upstream, exactly as it must
    * before any [[build]] (which also re-encodes whatever the source
    * still holds). Tombstone-stage terminality ([[append]]'s raw-codes
    * anti-join) is the bridge that covers the window BETWEEN a delete
    * and the next compact/build. Returns the surviving vector count. */
  def compact(s: SparkSession, d: String): Long =
    compactAt(s, ensure(s, d))

  private[graft] def compactAt(s: SparkSession, dir: String): Long = {
    // staging-first: every byte of the new codes table exists before
    // the old one is touched, so the read side (codesAt) is never
    // consulted after its files start moving
    val survivors = graft.Checkpoints.pin(codesAt(s, dir))
    val n = survivors.count()
    val nFiles = math.max(1L, (n + 1999999L) / 2000000L).toInt
    val staging = s"$dir/codes_compacting"
    FileUtils.deleteQuietly(new java.io.File(staging))
    survivors.repartition(nFiles).write.mode("overwrite").parquet(staging)
    java.nio.file.Files.deleteIfExists(marker(dir)): Unit
    builtMemo.remove(dir)
    FileUtils.deleteQuietly(new java.io.File(s"$dir/codes"))
    java.nio.file.Files.move(java.nio.file.Paths.get(staging),
      java.nio.file.Paths.get(s"$dir/codes")): Unit
    FileUtils.deleteQuietly(new java.io.File(s"$dir/deleted"))
    java.nio.file.Files.writeString(baseMeta(dir), n.toString): Unit
    java.nio.file.Files.deleteIfExists(appendedMeta(dir)): Unit
    java.nio.file.Files.deleteIfExists(deletedMeta(dir)): Unit
    java.nio.file.Files.createFile(marker(dir)): Unit
    builtMemo.add(dir)
    n
  }

  /** `ann_index_compact` — the compaction audit: complete the index
    * lifecycle (build → append → delete → COMPACT) as a gated query.
    * A bulk erasure (vec_id % 10 = 3, ~10% — a fixed residue class,
    * decoupled from [[forgetAudit]]'s data-derived one so both audits
    * coexist on their own variants) is tombstoned into a scratch
    * [[variant]], then [[compactAt]] physically rewrites it. The audit
    * row reads the POST-compaction physical state: surviving codes
    * count, zero tombstones remaining, drift clock reset
    * (stale_after = false), and the top-1 served neighbor — proof the
    * production path returns the same answer from the rewritten
    * artifacts that the tombstone anti-join gave before them. */
  def compactAudit(s: SparkSession, d: String, queryId: Long = Similarity.AuditQueryId): DataFrame = {
    // memoized: the tombstone + rewrite sequence is deterministic per
    // fingerprint; the audit counters computed during prep replay from
    // the READY marker on later invocations
    val (vdir, meta) = preparedVariant(s, d, "compact") { vd =>
      val erased = deleteAt(s, vd, graft.Tables.embeddings(s, d)
        .select(col("vec_id")).filter(col("vec_id") % 10 === 3))
      val survivors = compactAt(s, vd)
      s"$erased $survivors"
    }
    val Array(erased, survivors) = meta.split(" ").map(_.toLong)
    ivfpqRerankQueryAt(s, d, vdir, queryId, k = 1).select(
      lit(erased).as("erased"),
      lit(isStaleAt(vdir)).as("stale_after"),
      lit(deletedCount(vdir)).as("tombstones_remaining"),
      col("cos").as("top1_cos"),
      col("vec_id").as("top1_vec"),
      lit(survivors).as("vecs_after"))
  }

  /** The compaction audit replayed as DuckDB SQL: counts from the
    * erasure predicate, the physical invariants as the constants
    * compaction guarantees (0 tombstones, drift clock reset), and the
    * top-1 from the SHARED ivfpq serve chain with the predicate
    * applied before the top-50 cut — the same candidate set whether
    * the erased rows are anti-joined (pre-compaction) or physically
    * absent (post), which is exactly the claim the audit gates. */
  val compactSql: String = {
    import Similarity.{cosOf, ivfpqCtes}
    s"""$ivfpqCtes,
       |cand50c AS (
       |  SELECT vec_id FROM adcq WHERE vec_id % 10 <> 3
       |  ORDER BY adc_dist2, vec_id LIMIT ${Similarity.RerankC}),
       |t1 AS (
       |  SELECT e.vec_id, ${cosOf("e.embedding", "q.q_emb")} AS cos
       |  FROM embeddings e JOIN cand50c USING (vec_id)
       |  CROSS JOIN (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = ${Similarity.AuditQueryId}) q
       |  ORDER BY cos DESC, vec_id LIMIT 1)
       |SELECT
       |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 10 = 3) AS erased,
       |  false AS stale_after,
       |  CAST(0 AS BIGINT) AS tombstones_remaining,
       |  t1.cos AS top1_cos,
       |  t1.vec_id AS top1_vec,
       |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 10 <> 3) AS vecs_after
       |FROM t1""".stripMargin
  }

  /** `ann_recall_audit` — index-quality evaluation: the served top-k
    * (probe cells → ADC top-`RerankC` → exact rerank, the production
    * path) graded against the exact brute-force top-k for the standard
    * query vector, one row per exact rank with a cumulative recall@r
    * column. This is the recall report every vector store publishes
    * (FAISS benchmarks, the ann-benchmarks harness): the number that
    * decides whether nprobe/RerankC are sized right BEFORE a
    * misconfigured index silently degrades retrieval.
    *
    * Exactness: both sides are already oracle-replayed plans
    * (ann_bruteforce / ann_ivfpq_rerank share their scoring chains
    * verbatim); the audit composes their RESULT SETS with integer rank
    * arithmetic, so the only new math is hits/rank in one double
    * division — bit-exact by construction.
    *
    * At 100 TB the exact side is the expensive leg (one corpus scan
    * per audited query) — it runs on a SAMPLE of query ids in
    * production, which composes here as a union over queryIds; the
    * served leg stays index-cost. */
  def recallAudit(s: SparkSession, d: String,
      queryId: Long = Similarity.AuditQueryId,
      k: Int = Similarity.AuditK): DataFrame =
    // BOTH legs honor k: the exact truth, the served
    // set, and the recall_at denominator must describe the same depth
    Similarity.gradeAgainstExact(
      Similarity.bruteForce(s, d, queryId, k),
      ivfpqRerankQueryAt(s, d, ensure(s, d), queryId, k))

  /** Oracle: the SHARED ivfpq serve chain (cand-RerankC → exact-cos
    * top-k) as the served set, the brute-force chain as truth, graded
    * with the shared rank window (Similarity.GradeVsExactSql — one
    * grading definition across every recall-style audit). */
  val recallAuditSql: String = {
    import Similarity.{ivfpqCtes, Cand50Cte, servedTopKSql}
    s"""$ivfpqCtes,
       |$Cand50Cte,
       |served AS (
       |${servedTopKSql(Similarity.AuditK)}),
       |${Similarity.GradeVsExactSql}""".stripMargin
  }

  private def coarseDf(s: SparkSession, d: String): DataFrame =
    coarseAt(s, ensure(s, d))
  private def codebookDf(s: SparkSession, d: String): DataFrame =
    codebookAt(s, ensure(s, d))
  private def codesDf(s: SparkSession, d: String): DataFrame =
    codesAt(s, ensure(s, d))

  // dir-addressed artifact readers: the serving stages are shared
  // between the MAIN fingerprint dir and erasure variants, so
  // every reader takes the resolved dir, and the `d`-keyed wrappers
  // above stay the public convenience.
  private def coarseAt(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/coarse")
  private def codebookAt(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/codebook")

  /** Per-process memo of the codebook's subvector length: without it
    * every serve paid a one-row head() job — scan + collect of the
    * 256-row codebook — just to learn a constant (~15 jobs per bench
    * session across the PQ-family queries). Keyed by (dir, codebook
    * [[graft.SourceKey]]), not dir alone: fingerprinted dirs pin
    * geometry, but appendAt is also reachable with explicit
    * non-fingerprinted dirs ([[buildSubset]]) where a same-path
    * rebuild could change M or dim — the content key makes that
    * rebuild miss instead of serving a stale subLen into the
    * subvector slicer. */
  private val subLenMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Integer]()
  private[graft] def subLenAt(s: SparkSession, dir: String): Int = {
    val sig = graft.SourceKey.of(new java.io.File(dir, "codebook"))
    subLenMemo.computeIfAbsent((dir, sig), _ =>
      Int.box(codebookAt(s, dir).select(size(col("c_sv"))).head().getInt(0)))
  }

  /** Stored codes with erasure tombstones applied: every serving entry
    * point (pq / ivfpq / rerank / batch k-NN join) reads codes through
    * here, so a [[delete]] is honored by ALL of them at once — an
    * erased vector can never occupy a candidate slot again. The
    * tombstone set is an anti-join on vec_id (ids only — at 100 TB it
    * is a bloom-filterable broadcast, never a codes rewrite on the
    * serve path); a dir with no deletions skips the join entirely
    * (driver-side existence check, zero plan change). */
  private def codesAt(s: SparkSession, dir: String): DataFrame = {
    val codes = s.read.parquet(s"$dir/codes")
    if (new java.io.File(s"$dir/deleted").isDirectory)
      codes.join(s.read.parquet(s"$dir/deleted"), Seq("vec_id"), "left_anti")
    else codes
  }

  /** ADC distance table (sub, code, qd2) for the query vector against
    * the STORED codebook — the only per-query "training"-shaped work
    * left, and it is m×ksub = 256 rows from one vector. */
  private def distTable(s: SparkSession, d: String, queryId: Long): DataFrame =
    distTableAt(s, d, ensure(s, d), queryId)

  private def distTableAt(s: SparkSession, d: String, dir: String,
      queryId: Long): DataFrame = {
    val cb = codebookAt(s, dir)
    val subLen = subLenAt(s, dir)
    val q = Similarity.normalizedEmb(s, d).filter(col("vec_id") === queryId)
    Similarity.subvecsOf(q, "embedding", M, subLen)
      .join(broadcast(cb), "sub")
      .select(col("sub"), col("code"),
        Similarity.sqDiff(col("sv"), col("c_sv")).as("qd2"))
  }

  /** Floor-quantised ADC total (identical to the inline pipelines'
    * expression, so served results hash-match the training oracles). */
  private def adcTotal =
    (sum(floor(col("qd2") * 1e12).cast("decimal(28,0)"))
      .cast("double") / 1e12).as("adc_dist2")

  /** `ann_pq` served from the stored index: whole-corpus ADC ranking
    * from stored codes — bit-identical to [[Similarity.pq]]. */
  def pqQuery(s: SparkSession, d: String, queryId: Long = Similarity.AuditQueryId,
      k: Int = 10): DataFrame =
    codesDf(s, d).filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(distTable(s, d, queryId)), Seq("sub", "code"))
      .groupBy(col("vec_id"))
      .agg(adcTotal)
      .orderBy(col("adc_dist2"), col("vec_id"))
      .limit(k)

  /** `ann_ivfpq` served from the stored index: probe-cell filter on the
    * stored (vec_id, cell) assignment, then ADC over stored codes —
    * bit-identical to [[Similarity.ivfpq]]. */
  def ivfpqQuery(s: SparkSession, d: String, queryId: Long = Similarity.AuditQueryId,
      k: Int = 10): DataFrame =
    ivfpqQueryAt(s, d, ensure(s, d), queryId, k)

  /** `idFilter`: an optional (vec_id) frame intersected with the
    * probed-cell candidates BEFORE the ADC ranking — the filtered-
    * search serving shape (FAISS IDSelector): every one of the top-k
    * slots is spent on a predicate-matching vector, instead of
    * post-filtering a top-k that the predicate then starves. An
    * equi-join on vec_id, so at 100 TB the filter co-shuffles ids
    * only (AQE broadcasts it when the predicate is selective). */
  private[graft] def ivfpqQueryAt(s: SparkSession, d: String, dir: String,
      queryId: Long, k: Int, idFilter: Option[DataFrame] = None): DataFrame = {
    val qCells = Similarity.normalizedEmb(s, d)
      .filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
      .crossJoin(broadcast(coarseAt(s, dir)))
      .select(col("c_id"), Similarity.sqDiff(col("q_emb"), col("c_emb")).as("qcd2"))
      .orderBy(col("qcd2"), col("c_id"))
      .limit(Nprobe)
      .select(col("c_id").as("probe_cell"))
    val base = codesAt(s, dir)
      .join(broadcast(qCells), col("cell") === col("probe_cell"))
      .filter(col("vec_id") =!= queryId)
    idFilter.fold(base)(f => base.join(f, Seq("vec_id"), "left_semi"))
      .select(col("vec_id"), col("cell"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(distTableAt(s, d, dir, queryId)), Seq("sub", "code"))
      .groupBy(col("vec_id"), col("cell"))
      .agg(adcTotal)
      .orderBy(col("adc_dist2"), col("vec_id"))
      .limit(k)
  }

  /** `ann_pq_rerank` served: stored-index ADC candidates + exact
    * re-rank ([[Similarity.exactRerank]] — same expression as the
    * exact baseline, candidates fetched by id, never a scan). */
  def pqRerankQuery(s: SparkSession, d: String, queryId: Long = Similarity.AuditQueryId,
      k: Int = 10, c: Int = Similarity.RerankC): DataFrame =
    Similarity.exactRerank(s, d, queryId, k,
      pqQuery(s, d, queryId, k = c).select(col("vec_id")))

  /** `ann_index_query` / `ann_ivfpq_rerank` served: the COMPLETE
    * production serving path — stored coarse cells prune, stored codes
    * ADC-rank, exact re-rank of the top-c. Same top-k as the inline
    * [[Similarity.ivfpqRerank]]; oracle reuses ivfpqRerankSql. */
  def ivfpqRerankQuery(s: SparkSession, d: String, queryId: Long = Similarity.AuditQueryId,
      k: Int = 10, c: Int = Similarity.RerankC): DataFrame =
    ivfpqRerankQueryAt(s, d, ensure(s, d), queryId, k, c)

  private[graft] def ivfpqRerankQueryAt(s: SparkSession, d: String,
      dir: String, queryId: Long, k: Int, c: Int = Similarity.RerankC): DataFrame =
    Similarity.exactRerank(s, d, queryId, k,
      ivfpqQueryAt(s, d, dir, queryId, k = c).select(col("vec_id")))

  /** `ann_index_filtered` — metadata-filtered search SERVED from the
    * persisted index: `ann_filtered`'s predicate (label % 2 = 0)
    * answered by the production path instead of an exact corpus scan —
    * the single hottest vector-DB feature (every RAG query carries a
    * tenant/source/date predicate). The predicate restricts the
    * probed-cell candidate set BEFORE the ADC top-`c` cut (pre-filter,
    * not post-filter: all `c` rerank slots go to matching vectors, so
    * a selective predicate can't starve the top-k), then the exact
    * rerank re-scores matching survivors only. Composes with erasure:
    * candidates read through the tombstone anti-join like every other
    * serving entry point.
    *
    * At 100 TB the filter is an ids-only semi-join against the
    * predicate's id set (metadata lives in the source table, codes
    * stay 8 bytes/vector); output (vec_id, label, cos) matches
    * ann_filtered's shape so exact-scan and index-served answers are
    * directly comparable. */
  def filteredIndexQuery(s: SparkSession, d: String, queryId: Long = Similarity.AuditQueryId,
      k: Int = 10, c: Int = Similarity.RerankC): DataFrame = {
    val dir = ensure(s, d)
    val ids = graft.Tables.embeddings(s, d)
      .filter(col("label") % 2 === 0).select(col("vec_id"))
    val cand = ivfpqQueryAt(s, d, dir, queryId, c, Some(ids))
      .select(col("vec_id"))
    Similarity.exactRerank(s, d, queryId, k, cand)
      .join(graft.Tables.embeddings(s, d).select(col("vec_id"), col("label")),
        "vec_id")
      .select(col("vec_id"), col("label"), col("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  /** Oracle: the SHARED ivfpq serve chain with the label predicate
    * applied to the per-vector ADC table before the top-50 cut —
    * identical set to the Spark side's pre-ADC semi-join, since
    * per-vector ADC is independent of the filter. */
  val filteredIndexSql: String = {
    import Similarity.{cosOf, ivfpqCtes}
    s"""$ivfpqCtes,
       |cand50f AS (
       |  SELECT a.vec_id FROM adcq a
       |  JOIN embeddings em ON a.vec_id = em.vec_id
       |  WHERE em.label % 2 = 0
       |  ORDER BY a.adc_dist2, a.vec_id LIMIT ${Similarity.RerankC}),
       |rr AS (
       |  SELECT e.vec_id, ${cosOf("e.embedding", "q.q_emb")} AS cos
       |  FROM embeddings e JOIN cand50f USING (vec_id)
       |  CROSS JOIN (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = ${Similarity.AuditQueryId}) q
       |  ORDER BY cos DESC, vec_id LIMIT 10)
       |SELECT r.vec_id, em.label, r.cos
       |FROM rr r JOIN embeddings em ON r.vec_id = em.vec_id
       |ORDER BY r.cos DESC, r.vec_id""".stripMargin
  }

  /** `ann_index_knn_join` — batch k-NN join SERVED from the persisted
    * IVF-PQ index: the query-SET counterpart of [[ivfpqRerankQuery]],
    * and the entry point every embedding-join/RAG pipeline actually
    * hits (N queries at once, not one). `ann_topk_join`'s
    * block-partitioned brute force costs O(N·corpus) exact
    * distances; this plan serves the same answer shape from the
    * stored artifacts at O(N·(cells + m·ksub)) table math plus codes
    * in probed cells only.
    *
    * Plan, per the stored artifacts (no retraining, nothing rebuilt):
    *   1. coarse assign the query set: |Q| × (n/50) broadcast distance
    *      pass → top-nprobe cells per query ((q_id, cell), tiny);
    *   2. per-query ADC tables: |Q|·m·ksub rows from one broadcast
    *      join of the query subvectors against the stored codebook;
    *   3. candidates: stored codes equi-joined to the BROADCAST probe
    *      cells on `cell` — only probed cells' codes are read (the
    *      parquet scan prunes on the join side), and the shuffle
    *      carries (q_id, vec_id, partial ADC sums), never vectors;
    *   4. ADC top-`c` per query (window over the per-query candidate
    *      set), then exact cosine re-rank of the |Q|·c survivors by id
    *      lookup — the same broadcast point-fetch as [[Similarity
    *      .exactRerank]], generalized over q_id.
    *
    * At 100 TB: queries, probe cells, ADC tables, and candidate ids
    * are all broadcast-sized (|Q| rows × small constants); the only
    * data-scale term is the probed-cells code scan, which is the same
    * per-query cost as single-query serving — N queries share ONE scan
    * instead of N. Recall equals single-query serving by construction
    * (AnnIndexSpec pins batch == per-query loop, bit-exact).
    *
    * Output (q_id, vec_id, cos, rnk) — `ann_topk_join`'s shape, so the
    * two are directly comparable; the oracle replays the stored-index
    * pipeline (training CTEs shared with [[statsSql]]/ivfpq), exact
    * because every stage is the same quantised expression sequence. */
  def knnJoin(s: SparkSession, d: String, nq: Long = 5L, k: Int = 5,
      c: Int = Similarity.RerankC): DataFrame = {
    import graft.functions.VectorFunctions.{dotD, norm2}
    val cents = coarseDf(s, d)
    val cb = codebookDf(s, d)
    val subLen = subLenAt(s, dirFor(d))
    val qs = Similarity.normalizedEmb(s, d).filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val wCell = Window.partitionBy(col("q_id"))
      .orderBy(col("qcd2"), col("c_id"))
    val qcells = qs.crossJoin(broadcast(cents))
      .select(col("q_id"), col("c_id"),
        Similarity.sqDiff(col("q_emb"), col("c_emb")).as("qcd2"))
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") <= Nprobe)
      .select(col("q_id"), col("c_id").as("probe_cell"))
    val dt = Similarity.subvecsOf(
        qs.select(col("q_id").as("vec_id"), col("q_emb").as("embedding")),
        "embedding", M, subLen)
      .join(broadcast(cb), "sub")
      .select(col("vec_id").as("q_id"), col("sub"), col("code"),
        Similarity.sqDiff(col("sv"), col("c_sv")).as("qd2"))
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_dist2"), col("vec_id"))
    val cands = codesDf(s, d)
      .join(broadcast(qcells), col("cell") === col("probe_cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(dt), Seq("q_id", "sub", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(adcTotal)
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= c)
      .select(col("q_id"), col("vec_id"))
    // exact re-rank: |Q|·c point fetches of raw vectors (broadcast id
    // lookup into the corpus scan — never a scan per query), the
    // identical cosine expression tree as bruteForce/exactRerank
    val e = graft.Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding"), norm2(col("embedding")).as("n2"))
    val qe = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("n2").as("q_n2"))
    val wK = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(cands), "vec_id")
      .join(broadcast(qe), "q_id")
      .select(col("q_id"), col("vec_id"),
        (dotD(col("embedding"), col("q_emb")) /
          sqrt(col("n2") * col("q_n2"))).as("cos"))
      .withColumn("rnk", row_number().over(wK))
      .filter(col("rnk") <= k)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** The batch-serving pipeline replayed as DuckDB SQL: the SHARED
    * training chain (normalize/cents0/codebook — one definition with
    * statsSql and the pq/ivfpq oracles), then the multi-query stages:
    * per-query probe cells, candidate encode, per-(query, candidate)
    * ADC, top-c, exact re-rank. Exact for the same reason the
    * single-query serving oracles are: every float op is a fixed
    * quantised IEEE sequence present verbatim on both sides. */
  val knnJoinSql: String = {
    import Similarity.{PqCents0Cte, PqEnCte, PqTrainCtes, cosOf, d2Of}
    s"WITH $PqEnCte,\n$PqCents0Cte,\n" +
    s"""assigned AS (
       |  SELECT vec_id, c_id AS cell FROM (
       |    SELECT e.vec_id, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2Of("e.embedding", "c.c_emb")}, c.c_id) AS rn
       |    FROM en e CROSS JOIN cents0 c)
       |  WHERE rn = 1),
       |qcells AS (
       |  SELECT q_id, c_id AS probe_cell FROM (
       |    SELECT q.vec_id AS q_id, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${d2Of("q.embedding", "c.c_emb")}, c.c_id) AS rn
       |    FROM en q CROSS JOIN cents0 c WHERE q.vec_id < 5)
       |  WHERE rn <= $Nprobe),""".stripMargin +
    s"\n$PqTrainCtes,\n" +
    s"""cand AS (
       |  SELECT q.q_id, a.vec_id FROM assigned a
       |  JOIN qcells q ON a.cell = q.probe_cell
       |  WHERE a.vec_id <> q.q_id),
       |cvec AS (SELECT DISTINCT vec_id FROM cand),
       |codes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT v.vec_id, v.sub, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
       |        ORDER BY ${d2Of("v.sv", "c.c_sv")}, c.code) AS rn
       |    FROM sv v JOIN cvec USING (vec_id) JOIN cents c USING (sub))
       |  WHERE rn = 1),
       |dt AS (
       |  SELECT q.vec_id AS q_id, q.sub, c.code, ${d2Of("q.sv", "c.c_sv")} AS qd2
       |  FROM sv q JOIN cents c USING (sub) WHERE q.vec_id < 5),
       |adcq AS (
       |  SELECT cd.q_id, cd.vec_id,
       |    CAST(SUM(CAST(FLOOR(dt.qd2 * 1e12) AS DECIMAL(28,0))) AS DOUBLE) / 1e12 AS adc_dist2
       |  FROM cand cd
       |  JOIN codes co ON co.vec_id = cd.vec_id
       |  JOIN dt ON dt.q_id = cd.q_id AND dt.sub = co.sub AND dt.code = co.code
       |  GROUP BY cd.q_id, cd.vec_id),
       |candk AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY adc_dist2, vec_id) AS rn
       |    FROM adcq)
       |  WHERE rn <= ${Similarity.RerankC}),
       |rer AS (
       |  SELECT k.q_id, k.vec_id, ${cosOf("e.embedding", "q.embedding")} AS cos
       |  FROM candk k
       |  JOIN embeddings e ON e.vec_id = k.vec_id
       |  JOIN embeddings q ON q.vec_id = k.q_id)
       |SELECT q_id, vec_id, cos, rnk FROM (
       |  SELECT q_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
       |  FROM rer)
       |WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin
  }

  /** `ann_index_build` — force-rebuild the index and emit per-cell
    * stats from the artifacts just written: vectors per cell, an exact
    * checksum over every stored PQ code (so the oracle verifies the
    * full code table, not just row counts), and the cell's id range. */
  def stats(s: SparkSession, d: String): DataFrame = {
    build(s, d)
    codesDf(s, d)
      .select(col("vec_id"), col("cell"),
        aggregate(col("codes"), lit(0L), (acc, x) => acc + x).as("code_sum"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("code_sum")).as("code_checksum"),
        min(col("vec_id")).as("min_vec"),
        max(col("vec_id")).as("max_vec"))
      .orderBy(col("cell"))
  }

  /** The index build replayed as DuckDB SQL: normalize → coarse assign
    * → codebook train (seed + one floor-quantised Lloyd round, the
    * pqCtes chain) → full-corpus encode → per-cell stats over the code
    * table. Verifies every stored artifact: `n_vecs`/id-range pin the
    * coarse assignment, `code_checksum` pins all m codes per vector. */
  val statsSql: String = {
    import Similarity.{PqCents0Cte, PqEnCte, PqTrainCtes, d2Of}
    // en/cents0 + the full codebook-training chain are the SHARED
    // fragments (Similarity.PqTrainCtes): one definition with the
    // pq/ivfpq oracles, so a constant or quantisation change cannot
    // silently desynchronize this oracle from theirs
    s"WITH $PqEnCte,\n$PqCents0Cte,\n" +
    s"""assigned AS (
       |  SELECT vec_id, c_id AS cell FROM (
       |    SELECT e.vec_id, c.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d2Of("e.embedding", "c.c_emb")}, c.c_id) AS rn
       |    FROM en e CROSS JOIN cents0 c)
       |  WHERE rn = 1),""".stripMargin +
    s"\n$PqTrainCtes,\n" +
    s"""codes AS (
       |  SELECT vec_id, code FROM (
       |    SELECT v.vec_id, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
       |        ORDER BY ${d2Of("v.sv", "c.c_sv")}, c.code) AS rn
       |    FROM sv v JOIN cents c USING (sub))
       |  WHERE rn = 1),
       |per_vec AS (SELECT vec_id, SUM(code) AS code_sum FROM codes GROUP BY vec_id)
       |SELECT a.cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  CAST(SUM(p.code_sum) AS BIGINT) AS code_checksum,
       |  MIN(a.vec_id) AS min_vec, MAX(a.vec_id) AS max_vec
       |FROM assigned a JOIN per_vec p USING (vec_id)
       |GROUP BY a.cell
       |ORDER BY cell""".stripMargin
  }

  // ---- incremental (append-only) index build ------------------------------

  /** The appended-batch membership for the incremental-build audit:
    * ~10% of the corpus, chosen DISJOINT from every training input —
    * no coarse-sample id (vec_id % 50 == 0) and no codebook seed/train
    * id (vec_id < 256) — so freezing the base artifacts loses nothing
    * a full retrain would have learned from these rows, and the
    * incremental index is bit-identical to a full rebuild (the spec
    * pins it; the oracle replays the full build). */
  private[graft] def appendSplitPred: org.apache.spark.sql.Column =
    col("vec_id") % 10 === 7 && col("vec_id") % 50 =!= 0 && col("vec_id") >= 256

  /** Subset-trained artifacts: [[build]]'s training+encode core over a
    * filtered corpus, landed into an explicit dir (no fingerprint
    * bookkeeping — the audit dir lives beside the main index). */
  private[graft] def buildSubset(s: SparkSession, d: String, dir: String,
      basePred: org.apache.spark.sql.Column): Unit = {
    val e = Similarity.normalizedEmb(s, d).filter(basePred)
    trainInto(s, d, dir, e)
    java.nio.file.Files.writeString(baseMeta(dir), e.count().toString): Unit
  }

  /** Build-base + append-batch, memoized per process: the incremental
    * index the audit serves from. Marker written LAST, so a crash mid-
    * prepare re-prepares. */
  private[graft] def incrementalDir(s: SparkSession, d: String): String = {
    val dir = dirFor(d) + "_incr"
    if (!java.nio.file.Files.exists(marker(dir))) {
      val f = new java.io.File(dir)
      FileUtils.deleteQuietly(f)
      f.mkdirs()
      buildSubset(s, d, dir, !appendSplitPred)
      appendAt(s, dir, graft.Tables.embeddings(s, d)
        .filter(appendSplitPred).select(col("vec_id"), col("embedding")))
      java.nio.file.Files.createFile(marker(dir))
    }
    dir
  }

  /** `ann_index_append_build` — incremental index maintenance GATED
    * end-to-end: `ann_index_build` retrains and
    * re-encodes the whole corpus (the ×100 sweep's linear-by-contract
    * entry); here the corpus arrives in two installments — a base
    * build trains coarse centroids + PQ codebook and encodes ~90%,
    * then the remaining ~10% lands through [[appendAt]] against the
    * FROZEN artifacts, cost ∝ batch (encode only, zero retraining).
    * The audit serves the production top-10 (probe → ADC → exact
    * rerank) from the INCREMENTAL index and reports beside it the
    * drift gate that schedules retraining: base/appended counts, the
    * max per-dimension mean shift between the slices (embed_drift's
    * statistic, ppm-quantised), and the retrain decision
    * (appended fraction > [[StaleFraction]] OR drift beyond 0.1).
    *
    * The oracle replays the FULL-REBUILD serve chain (ivfpqCtes — the
    * whole-corpus training replay) plus the drift CTEs: the hash match
    * IS the serve-parity claim — an incremental index that answered
    * differently from a from-scratch rebuild would fail the gate.
    *
    * 100 TB: this is how a billion-vector index absorbs a daily batch
    * — one narrow encode pass over the batch (broadcast centroids +
    * codebook), one appended-files write, counters advancing toward
    * the retrain threshold. Nothing corpus-sized recomputes. */
  def appendBuildAudit(s: SparkSession, d: String): DataFrame = {
    import graft.queries.Frags.davg9
    val dir = incrementalDir(s, d)
    val topk = ivfpqRerankQueryAt(s, d, dir, Similarity.AuditQueryId, 10)
    def slice(pred: org.apache.spark.sql.Column, suffix: String) =
      graft.Tables.embeddings(s, d).filter(pred)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim"), col("x").cast("double").as("xd"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as(s"n$suffix"), expr(davg9("xd")).as(s"mean$suffix"))
    val stats = slice(!appendSplitPred, "_b").join(slice(appendSplitPred, "_a"), "dim")
      .agg(max(col("n_b")).as("n_base"), max(col("n_a")).as("n_appended"),
        max(floor(abs(col("mean_a") - col("mean_b")) * 1e6).cast("long"))
          .as("drift_ppm"))
      .select(col("n_base"), col("n_appended"), col("drift_ppm"),
        when(col("n_appended") * 5 > col("n_base") || col("drift_ppm") > 100000, 1)
          .otherwise(0).cast("int").as("retrain"))
    topk.crossJoin(broadcast(stats))
      .select(col("vec_id"), col("cos"), col("n_base"), col("n_appended"),
        col("drift_ppm"), col("retrain"))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  /** Oracle: the full-rebuild serve replay (shared ivfpqCtes/Cand50Cte
    * chain — identical to ann_index_query's) CROSS JOIN the drift CTEs
    * over the same slice split. */
  val appendBuildSql: String = {
    import Similarity.{ivfpqCtes, Cand50Cte, servedTopKSql}
    import graft.queries.Frags.davg9
    val x = "CAST(embedding[i] AS DOUBLE)"
    val appPred = "vec_id % 10 = 7 AND vec_id % 50 <> 0 AND vec_id >= 256"
    def statCte(name: String, cond: String) =
      s"""$name AS (
         |  SELECT i - 1 AS dim, COUNT(*) AS n, ${davg9(x)} AS mean
         |  FROM (SELECT embedding, UNNEST(range(1, len(embedding) + 1)) AS i
         |        FROM embeddings WHERE $cond)
         |  GROUP BY 1)""".stripMargin
    s"""$ivfpqCtes,
       |$Cand50Cte,
       |${statCte("bs", s"NOT ($appPred)")},
       |${statCte("ap", appPred)},
       |stats AS (
       |  SELECT CAST(MAX(bs.n) AS BIGINT) AS n_base,
       |    CAST(MAX(ap.n) AS BIGINT) AS n_appended,
       |    CAST(MAX(FLOOR(ABS(ap.mean - bs.mean) * 1e6)) AS BIGINT) AS drift_ppm
       |  FROM bs JOIN ap ON bs.dim = ap.dim),
       |topk AS (${servedTopKSql(10)})
       |SELECT t.vec_id, t.cos, s.n_base, s.n_appended, s.drift_ppm,
       |  CAST(CASE WHEN s.n_appended * 5 > s.n_base OR s.drift_ppm > 100000
       |       THEN 1 ELSE 0 END AS INT) AS retrain
       |FROM topk t CROSS JOIN stats s
       |ORDER BY t.cos DESC, t.vec_id""".stripMargin
  }
}
