package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.etl._
import graft.sinks.PgCopySink
import graft.sources.{ParquetSource, SchemaDisplay}

class EtlSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmpDir(prefix: String): String =
    tempDir(prefix).toString

  private def writeFile(dir: String, name: String, content: String): Unit =
    Files.write(Paths.get(dir, name), content.getBytes("UTF-8"))

  // ---- GraftConfig ------------------------------------------------------

  private val goodYaml =
    """db:
      |  table_name: warehouse_t
      |  conn_str: "jdbc:derby:memory:cfg;create=true"
      |s3:
      |  bucket: deliveries-parquet
      |  download_batch_size: 2
      |  downloads_dir: out
      |parquet:
      |  desired_fields:
      |    - delivery_id
      |    - body
      |parquet_to_db:
      |  delivery_id: id
      |  body: null
      |work_lists:
      |  dir: work
      |""".stripMargin

  test("format roundtrip is row-level lossless for csv, json and orc") {
    import org.apache.spark.sql.functions._
    val slice = Tables.lineitem(spark, sf).filter(col("l_orderkey") % 100 === 0)
    val schema = slice.schema
    val want = slice.collect().toSet
    assert(want.nonEmpty)
    val base = tempDir("graft_fmt_spec").toString
    slice.write.option("header", "true").csv(s"$base/csv")
    slice.write.json(s"$base/json")
    slice.write.orc(s"$base/orc")
    val back = Map(
      "csv" -> spark.read.schema(schema).option("header", "true").csv(s"$base/csv"),
      "json" -> spark.read.schema(schema).json(s"$base/json"),
      "orc" -> spark.read.orc(s"$base/orc"))
    back.foreach { case (fmt, df) =>
      assert(df.schema == schema, s"$fmt schema drifted")
      val got = df.collect().toSet
      assert(got == want,
        s"$fmt roundtrip lost rows or precision: ${got.size} vs ${want.size}, " +
          s"sample diff: ${(want -- got).take(1)}")
    }
  }

  test("merge semantics: deletes gone, inserts present, update wins") {
    import org.apache.spark.sql.functions._
    // re-derive the merged row set independently of the query's
    // summary: run the same construction and check MEMBERSHIP rules
    val orders = Tables.orders(spark, sf)
    val keys = orders.select("o_orderkey").collect().map(_.getLong(0)).toSet
    def changed(k: Long) = (k % 8 == 2 || k % 8 == 5) && k % 3 == 0
    val deleted = keys.filter(k => changed(k) && k % 2 == 1)
    val upserted = keys.filter(k => changed(k) && k % 2 == 0)
    val inserted = upserted.filter(_ % 7 == 6) // not in the target slice
    assert(deleted.nonEmpty && inserted.nonEmpty, "degenerate construction")
    val summary = graft.queries.EtlQueries.merge(spark, sf).collect()
    val total = summary.map(_.getLong(1)).sum
    val expectedCount =
      keys.count(k => k % 7 != 6 && !changed(k)) + upserted.size
    assert(total == expectedCount, s"merged row count $total != $expectedCount")
    // every upsert carries status 'X': the X group holds exactly them
    val xRow = summary.find(_.getString(0) == "X").get
    assert(xRow.getLong(1) == upserted.size)
    assert(xRow.getLong(3) == upserted.sum, "X group keys != upserted keys")
  }

  /** etl_zorder's structural claim: z-ordered files are narrow in BOTH
    * clustered dimensions (bounded boxes), so a 2-D window intersects a
    * minority of files — while the 1-D date-clustered layout
    * (etl_cluster's copy) leaves every file spanning ~the full key
    * domain, making the key predicate useless for file skipping. */
  test("etl_zorder: per-file boxes bounded in both dims; 2-D window hits a minority") {
    import org.apache.spark.sql.functions._
    val E = graft.queries.EtlQueries
    E.zorder(spark, sf).collect() // materializes the layout
    E.cluster(spark, sf).collect() // materializes the 1-D comparison copy
    def boxes(dir: String) =
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("l_partkey")).as("kmin"), max(col("l_partkey")).as("kmax"),
          min(col("ship_date").cast("string")).as("dmin"),
          max(col("ship_date").cast("string")).as("dmax"))
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
    val zb = boxes(E.zorderBase(sf) + "/zorder")
    val cb = boxes(E.clusterBase(sf) + "/clustered")
    assert(zb.length >= 8, s"z layout produced only ${zb.length} files")
    val kLo = zb.map(_._1).min; val kHi = zb.map(_._2).max
    val span = (kHi - kLo).toDouble
    val qLo = kLo + (kHi - kLo) * 2 / 5
    val qHi = kLo + (kHi - kLo) * 11 / 20
    val (wLo, wHi) = ("1995-03-01", "1995-03-31")
    def keySpan(b: (Long, Long, String, String)) = (b._2 - b._1) / span
    def hitsDate(b: (Long, Long, String, String)) = b._3 <= wHi && b._4 >= wLo
    def hits2d(b: (Long, Long, String, String)) =
      hitsDate(b) && b._1 <= qHi && b._2 >= qLo
    // 1-D layout: date-matching files span ~the whole key domain
    val cbDate = cb.filter(hitsDate)
    assert(cbDate.nonEmpty)
    assert(cbDate.forall(keySpan(_) > 0.9),
      s"1-D files unexpectedly key-narrow: ${cbDate.map(keySpan).mkString(",")}")
    // z layout: median key span bounded (narrow in the SECOND dim too;
    // boundary-straddling files may span wide — median, not max)
    val zSpans = zb.map(keySpan).sorted
    assert(zSpans(zb.length / 2) <= 0.6,
      s"z files not key-narrow: median ${zSpans(zb.length / 2)}")
    // and the 2-D window intersects a minority of z files
    val frac = zb.count(hits2d).toDouble / zb.length
    assert(frac <= 0.375, s"2-D window intersects $frac of z files")
  }

  /** Time travel's two contracts: (a) MVCC — after the v2 commit, AS OF
    * v1 still reconstructs the pre-merge state exactly (checked against
    * an independent recomputation from the source) and the v2 manifest
    * SHARES v1's untouched partition files rather than copying them;
    * (b) the manifest is the commit — deleting it makes the version
    * unreadable until a rebuild, and the rebuild reproduces the audit
    * bit-for-bit. */
  test("etl_time_travel: AS OF v1 survives the v2 commit; manifests share untouched files") {
    val E = graft.queries.EtlQueries
    val audit = E.timeTravel(spark, sf).collect()
    assert(audit.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val Array(v1Row, v2Row) = audit
    // v1 recomputed independently of the version store
    val keys = Tables.orders(spark, sf).select("o_orderkey")
      .collect().map(_.getLong(0)).toSet
    def changed(k: Long) = (k % 8 == 2 || k % 8 == 5) && k % 3 == 0
    val upserted = keys.filter(k => changed(k) && k % 2 == 0)
    val v1Keys = keys.filter(_ % 7 != 6)
    assert(v1Row.getLong(1) == v1Keys.size, "v1 row count drifted")
    assert(v1Row.getLong(3) == v1Keys.sum, "v1 key checksum drifted")
    assert(v1Row.getLong(4) == 0, "status X leaked into the v1 snapshot")
    val v2Keys = v1Keys.filterNot(changed) ++ upserted
    assert(v2Row.getLong(1) == v2Keys.size, "v2 row count drifted")
    assert(v2Row.getLong(4) == upserted.size, "v2 upsert count drifted")
    // structural CoW: v2's manifest points untouched partitions at the
    // v1 dirs (shared files, no copy), touched ones at v2
    val base = E.timeTravelBase(sf)
    val m2 = E.readManifest(base, 2).toMap
    assert(Set(2, 5).forall(p => m2(p) == "v2"), s"touched partitions not rewritten: $m2")
    assert((Set(0, 1, 3, 4, 6, 7)).forall(p => m2(p) == "v1"),
      s"untouched partitions copied instead of shared: $m2")
    assert(!new java.io.File(s"$base/files/v2/pt=0").exists,
      "v2 wrote an untouched partition — commit is not CoW-scoped")
    // manifest-is-the-commit: losing the v2 manifest forces a rebuild
    // that reproduces the audit exactly
    assert(new java.io.File(s"$base/manifests/v2.txt").delete())
    val rebuilt = E.timeTravel(spark, sf).collect()
    assert(rebuilt.toSeq == audit.toSeq, "rebuild after lost commit marker drifted")
  }

  /** Delta export's structural contracts, beyond the oracle gate:
    * (a) round-trip — replaying the exported log's add/remove actions
    * reproduces the manifest store's file resolution EXACTLY for both
    * versions; (b) version 0 is a well-formed Delta genesis (one
    * protocol, one metaData with partitionColumns=["pt"] and a
    * parseable Spark schemaString); (c) stats honesty — every add's
    * numRecords equals the file's parquet footer count; (d) re-export
    * is byte-identical (CAS idempotency) and a tampered log is a hard
    * error, never a silent overwrite. */
  test("etl_delta_export: log replay == manifest resolution; genesis well-formed; idempotent") {
    val E = graft.queries.EtlQueries
    val audit = E.deltaExport(spark, sf).collect()
    assert(audit.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    val base = E.deltaExportBase.get
    val logDir = new java.io.File(s"$base/_delta_log")
    val logFiles = logDir.listFiles.filter(_.getName.endsWith(".json")).sortBy(_.getName)
    assert(logFiles.map(_.getName).toSeq ==
      Seq("00000000000000000000.json", "00000000000000000001.json"))
    def lines(f: java.io.File): Seq[String] =
      new String(Files.readAllBytes(f.toPath), "UTF-8").split('\n').toSeq.filter(_.nonEmpty)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val v0 = lines(logFiles(0)).map(om.readTree)
    // (b) genesis: exactly one protocol + one metaData, then adds
    assert(v0.count(_.has("protocol")) == 1)
    assert(v0.count(_.has("metaData")) == 1)
    val md = v0.find(_.has("metaData")).get.get("metaData")
    assert(md.get("partitionColumns").get(0).asText == "pt")
    val parsed = org.apache.spark.sql.types.DataType.fromJson(
      md.get("schemaString").asText)
    assert(parsed.isInstanceOf[org.apache.spark.sql.types.StructType])
    assert(parsed.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("o_orderkey"))
    // (a) replay == manifest resolution, per version
    val all = (0 to 1).map(dv => lines(logFiles(dv)).map(om.readTree))
    def liveAt(dv: Int): Set[String] = {
      val acts = all.take(dv + 1).flatten
      val adds = acts.filter(_.has("add")).map(_.get("add").get("path").asText).toSet
      val rms = acts.filter(_.has("remove")).map(_.get("remove").get("path").asText).toSet
      adds -- rms
    }
    def resolved(v: Int): Set[String] =
      E.readManifest(base, v).flatMap { case (p, dir) =>
        val d = new java.io.File(s"$base/files/$dir/pt=$p")
        d.listFiles.filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map(f => s"files/$dir/pt=$p/${f.getName}")
      }.toSet
    assert(liveAt(0) == resolved(1), "delta v0 replay != manifest v1 resolution")
    assert(liveAt(1) == resolved(2), "delta v1 replay != manifest v2 resolution")
    // (c) stats honesty: numRecords == footer count for every add
    all.flatten.filter(_.has("add")).foreach { a =>
      val add = a.get("add")
      val stats = om.readTree(add.get("stats").asText)
      val f = new java.io.File(s"$base/${add.get("path").asText}")
      val n = spark.read.parquet(f.getAbsolutePath).count()
      assert(stats.get("numRecords").asLong == n,
        s"stats drift for ${add.get("path").asText}")
    }
    // (d) idempotency: re-export must not change a byte; tamper is loud
    val before = logFiles.map(f => new String(Files.readAllBytes(f.toPath), "UTF-8"))
    val schemaJson = spark.read.parquet(s"$base/files/v1").schema.json
    graft.etl.DeltaExport.export(base, "pt", schemaJson)
    val after = logFiles.map(f => new String(Files.readAllBytes(f.toPath), "UTF-8"))
    assert(before.toSeq == after.toSeq, "re-export mutated the committed log")
    Files.write(logFiles(1).toPath, (before(1) + "\n{\"tampered\":true}").getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](
      graft.etl.DeltaExport.export(base, "pt", schemaJson))
    assert(e.getMessage.contains("DIFFERENT content"))
    // restore so later tests in this JVM (and the gated query) see the
    // true log
    Files.write(logFiles(1).toPath, before(1).getBytes("UTF-8"))
  }

  /** Delta IMPORT's structural contracts, beyond the oracle gate:
    * (a) the foreign fixture mounts correctly — stale files of the
    * overwritten partition are dropped at v1 while untouched
    * partitions are identical across versions, and the reader's data
    * counts equal the log's stats (honesty THROUGH the reader);
    * (b) round-trip — graft's own exported store (etl_delta_export)
    * mounts through the same generic reader and matches the direct
    * manifest-resolution read row-for-row in aggregate; (c) an
    * unknown AS-OF version is a loud error. */
  test("etl_delta_import: foreign mount, stale-file drop, export round-trip") {
    import org.apache.spark.sql.functions.{count => fcount, lit, sum => fsum}
    val E = graft.queries.EtlQueries
    val rows = E.deltaImport(spark, sf).collect()
    assert(rows.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      (for (v <- 0 to 1; p <- 0 to 3) yield (v.toLong, p)),
      "expected (version, pt) grid 2x4")
    val byKey = rows.map(r =>
      (r.getLong(0), r.getInt(1)) -> (r.getLong(4), r.getLong(6))).toMap
    Seq(0, 1, 3).foreach { p =>
      assert(byKey((0L, p)) == byKey((1L, p)),
        s"untouched partition pt=$p drifted across versions")
    }
    assert(byKey((1L, 2))._1 < byKey((0L, 2))._1,
      "v1 must see the overwritten (smaller) pt=2 — stale files leaked in")
    rows.foreach(r => assert(r.getLong(4) == r.getLong(3),
      s"data count != log numRecords at version=${r.getLong(0)} pt=${r.getInt(1)}"))
    // (b) round-trip through graft's own export
    E.deltaExport(spark, sf).collect()
    val base = E.deltaExportBase.get
    val mounted = graft.etl.DeltaImport.snapshot(spark, base, 1L)
      .agg(fcount(lit(1)), fsum("o_orderkey")).head
    val direct = spark.read.parquet(E.readManifest(base, 2).map {
        case (p, dir) => s"$base/files/$dir/pt=$p"
      }: _*)
      .agg(fcount(lit(1)), fsum("o_orderkey")).head
    assert(mounted.getLong(0) == direct.getLong(0) &&
      mounted.getLong(1) == direct.getLong(1),
      "generic Delta mount of the exported store != manifest resolution")
    // (c) loud on unknown version
    val e = intercept[IllegalArgumentException](
      graft.etl.DeltaImport.readLog(base, 7L))
    assert(e.getMessage.contains("not in log"))
  }

  /** The checkpoint's load-bearing claim, made falsifiable: after
    * `etl_delta_checkpoint` exports 12 versions and checkpoints at 9,
    * DELETING the pre-checkpoint JSONs must leave the checkpointed
    * mount fully serviceable (it reads the parquet + the two tails and
    * never touches them) while a pre-checkpoint AS-OF now fails LOUDLY
    * (contiguity check) instead of serving a partial table. */
  test("etl_delta_checkpoint: mount survives deleted history; pre-checkpoint is loud") {
    import org.apache.spark.sql.functions.{count => fcount, lit, sum => fsum}
    val E = graft.queries.EtlQueries
    val rows = E.deltaCheckpoint(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(5L, 11L))
    rows.foreach(r => assert(r.getLong(3) == r.getLong(2),
      s"n != n_meta at version ${r.getLong(0)}"))
    val base = E.deltaCheckpointBase.get
    val logDir = new java.io.File(s"$base/_delta_log")
    assert(new java.io.File(logDir, "_last_checkpoint").exists)
    assert(new java.io.File(logDir, f"${9L}%020d.checkpoint.parquet").exists)
    def agg(asOf: Long) = graft.etl.DeltaImport.snapshot(spark, base, asOf)
      .agg(fcount(lit(1)), fsum("o_orderkey")).collect()(0)
    val before11 = agg(11L)
    // delete versions 0..9 — a vacuumed history
    val moved = (0L to 9L).map { v =>
      val f = new java.io.File(logDir, f"$v%020d.json")
      val bak = new java.io.File(logDir, f.getName + ".bak")
      assert(f.renameTo(bak)); (f, bak)
    }
    try {
      assert(agg(11L) == before11,
        "checkpointed mount touched deleted history")
      val e = intercept[IllegalArgumentException](agg(5L))
      assert(e.getMessage.contains("not in log"),
        "pre-checkpoint AS-OF over a vacuumed log must be loud")
    } finally moved.foreach { case (f, bak) => assert(bak.renameTo(f)) }
    // restored: the pure-JSON replay path answers again
    assert(agg(5L).getLong(0) > 0)
  }

  /** The sketch ANALYZE's quality and exact-channel contracts: NDV
    * estimates within 10% of truth per column (k=1024 ⇒ ~3% expected
    * error), exact row/null counts, and the below-k short-circuit
    * returning truth exactly for the low-cardinality columns. */
  test("etl_stats_approx: NDV within 10% of exact; low-card columns exact") {
    import org.apache.spark.sql.functions._
    val approx = graft.queries.EtlQueries.statsApprox(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val exact = graft.queries.EtlQueries.stats(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(approx.keySet == exact.keySet)
    for ((cn, (nr, nn, ndv)) <- approx) {
      val (enr, enn, endv) = exact(cn)
      assert(nr == enr && nn == enn, s"$cn exact channels drifted")
      assert(math.abs(ndv - endv).toDouble / endv <= 0.10,
        s"$cn: kmv=$ndv exact=$endv escapes the 10% bound")
      if (endv < 1024) assert(ndv == endv, s"$cn below-k short-circuit not exact")
    }
    assert(exact.values.exists(_._3 < 1024) && exact.values.exists(_._3 >= 1024),
      "construction must exercise both the exact and the estimated branch")
  }

  /** Vacuum's physical contract: garbage dirs and the dropped
    * version's manifest are really gone, shared files survive, the
    * retained version reads back complete, and a re-run replays the
    * persisted audit bit-for-bit. */
  test("etl_vacuum: sweeps only dropped-version files; retained version intact") {
    val E = graft.queries.EtlQueries
    val audit = E.vacuum(spark, sf).collect()
    val base = E.vacuumBase(sf)
    assert(!new java.io.File(s"$base/manifests/v1.txt").exists,
      "dropped version's manifest survived the sweep")
    assert(!new java.io.File(s"$base/files/v1/pt=2").exists &&
      !new java.io.File(s"$base/files/v1/pt=5").exists,
      "garbage partition dirs survived the sweep")
    assert(new java.io.File(s"$base/files/v1/pt=0").exists,
      "a SHARED partition dir was swept — live data destroyed")
    // retained version still resolves completely through its manifest
    val m2 = E.readManifest(base, 2)
    assert(m2.size == 8 && m2.forall { case (p, ver) =>
      new java.io.File(s"$base/files/$ver/pt=$p").exists })
    // audit replay is stable
    assert(E.vacuum(spark, sf).collect().toSeq == audit.toSeq)
    // and the audit itself matches an independent recomputation
    val keys = Tables.orders(spark, sf).select("o_orderkey")
      .collect().map(_.getLong(0)).toSet
    def changed(k: Long) = (k % 8 == 2 || k % 8 == 5) && k % 3 == 0
    val v1 = keys.filter(_ % 7 != 6)
    val v2 = v1.filterNot(changed) ++ keys.filter(k => changed(k) && k % 2 == 0)
    for (r <- audit) {
      val p = r.getInt(0)
      assert(r.getLong(1) == v1.count(_ % 8 == p), s"pt=$p rows_swept drifted")
      assert(r.getLong(2) == v2.count(_ % 8 == p), s"pt=$p rows_live drifted")
      assert(r.getLong(3) == v2.filter(_ % 8 == p).sum, s"pt=$p key_sum drifted")
    }
  }

  /** The shallow clone's physical contract: the clone commit writes
    * ONE manifest and ZERO data files (every v1 entry resolves into
    * the source store), the CoW mutation materializes exactly the
    * touched partition under the clone's own root, the source store
    * is byte-untouched across a re-run, and the audit replays
    * identically. */
  test("etl_clone: zero-copy commit, CoW writes only the touched partition, source untouched") {
    val E = graft.queries.EtlQueries
    val a1 = E.cloneAudit(spark, sf).collect()(0)
    val base = E.cloneBase(sf)
    val src = E.timeTravelBase(sf)
    // v1 manifest: 8 entries, ALL resolving into the source store
    val v1 = E.readManifest(base, 1)
    assert(v1.size == 8 && v1.forall(_._2.startsWith(src)),
      "a shallow clone's first manifest must reference only source files")
    // the clone's files dir holds ONLY the CoW partition
    def names(f: java.io.File) =
      Option(f.listFiles).getOrElse(Array.empty).map(_.getName).toSeq.sorted
    assert(names(new java.io.File(s"$base/files")) == Seq("v2"),
      "clone commit must copy no data files")
    assert(names(new java.io.File(s"$base/files/v2")) == Seq("pt=3"),
      "CoW must rewrite exactly the touched partition")
    // audit arithmetic: zero-copy read equals the source; 7 shared + 1
    // copied entries; the delete really shrank the clone
    assert(a1.getLong(2) == a1.getLong(0), "clone_rows must equal src_rows")
    assert(a1.getLong(3) == 7 && a1.getLong(4) == 1)
    assert(a1.getLong(5) < a1.getLong(0) && a1.getLong(6) < a1.getLong(1))
    // the clone is REGISTERED under the source store's clones/ dir, so
    // a clone-aware sweep of the source consults it: the
    // v1 registration carries exactly the clone's borrowed paths
    val reg = new java.io.File(
      s"$src/clones/${new java.io.File(base).getName}/manifests/v1.txt")
    assert(reg.exists, "clone must register at the source store")
    val regPaths = {
      val sc = scala.io.Source.fromFile(reg, "UTF-8")
      try sc.getLines().map(_.split("\t")(1)).toSet finally sc.close()
    }
    assert(regPaths == v1.map(_._2).toSet,
      "source-side registration must list the clone's borrowed paths")
    // source store byte-untouched by a replay; audit idempotent
    def srcState(): Seq[(String, Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(src)).map(f =>
        (f.getPath, f.length, f.lastModified)).sortBy(_._1)
    }
    val before = srcState()
    val a2 = E.cloneAudit(spark, sf).collect()(0)
    assert(a2.toSeq == a1.toSeq, "clone audit must replay identically")
    assert(srcState() == before, "a clone replay must not touch the source store")
  }

  /** The clone-aware vacuum's physical contract: the ref-protected
    * phase sweeps NOTHING (the shallow-clone hazard is actually
    * guarded, not just reported), the post-drop phase removes exactly
    * the dropped version's rewritten partitions, the retained version
    * reads back complete, and the audit replays idempotently. */
  test("etl_vacuum_refs: clone refs protect the sweep; drop releases exactly the garbage") {
    val E = graft.queries.EtlQueries
    val audit = E.vacuumRefs(spark, sf).collect()
    val base = E.vacuumRefsBase(sf)
    assert(audit.length == 2)
    val p1 = audit(0); val p2 = audit(1)
    assert(p1.getLong(1) == 0 && p1.getLong(2) == 0,
      "phase 1 must sweep nothing while the clone ref is live")
    // the clone reads the FULL v1 snapshot: compare against the v1
    // derivation from the raw table (v1 = base slice, o_orderkey%7<>6)
    val v1Rows = graft.Tables.orders(spark, sf)
      .filter(org.apache.spark.sql.functions.col("o_orderkey") % 7 =!= 6)
      .count()
    assert(p1.getLong(3) == v1Rows,
      "clone must read exactly the v1 snapshot row count")
    assert(p1.getLong(3) > p2.getLong(5),
      "v1 snapshot must exceed the retained v2 (deletes happened)")
    assert(p2.getLong(1) == 2 && p2.getLong(2) > 0,
      "phase 2 must reclaim v1's two rewritten partitions")
    assert(p2.isNullAt(3), "the dropped clone reports NULL")
    // physically: v1's rewritten dirs gone, shared dirs intact,
    // retained version resolves completely, clone manifests gone
    assert(!new java.io.File(s"$base/files/v1/pt=2").exists &&
      !new java.io.File(s"$base/files/v1/pt=5").exists)
    assert(new java.io.File(s"$base/files/v1/pt=0").exists,
      "a shared partition dir was swept")
    assert(!new java.io.File(s"$base/clones/c1").exists)
    val m2 = E.readManifest(base, 2)
    assert(m2.size == 8 && m2.forall { case (p, ver) =>
      new java.io.File(s"$base/files/$ver/pt=$p").exists })
    // idempotent replay from the persisted audit
    assert(E.vacuumRefs(spark, sf).collect().toSeq == audit.toSeq)
  }

  /** Clone crash-retry, SIMULATED: a kill between the CoW data write
    * and the v2 manifest commit leaves v2 absent (the manifest IS the
    * commit marker) — the retry must re-stage the partition and land
    * the identical audit, never serve the orphan as committed. */
  test("etl_clone crash-retry: orphan CoW files before the manifest commit are re-staged") {
    val E = graft.queries.EtlQueries
    val a1 = E.cloneAudit(spark, sf).collect()(0)
    val base = E.cloneBase(sf)
    // simulate the crash: v2 manifest gone, CoW files half-written
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$base/manifests/v2.txt"))
    val owned = new java.io.File(s"$base/files/v2/pt=3")
    owned.listFiles.filter(_.getName.endsWith(".parquet")).take(1)
      .foreach(f => assert(f.delete(), s"could not truncate $f"))
    val a2 = E.cloneAudit(spark, sf).collect()(0)
    assert(a2.toSeq == a1.toSeq,
      "retry must rewrite the orphan partition and replay the audit")
  }

  /** The crash-retry paths, SIMULATED: a vacuum that
    * died mid-sweep (audit absent, v1 manifest tombstoned, some swept
    * AND some live dirs gone) must rebuild the store from source and
    * produce the identical audit — the tombstone-first delete ordering
    * is what makes the guard fire instead of the retry 404ing on
    * swept paths. */
  test("etl_vacuum crash-retry: a half-swept store rebuilds and re-audits identically") {
    val E = graft.queries.EtlQueries
    val audit = E.vacuum(spark, sf).collect().map(_.toSeq).toSeq
    val base = E.vacuumBase(sf)
    // simulate the mid-sweep crash: audit gone, v1.txt already gone
    // (tombstone-first), and even a LIVE shared dir destroyed — the
    // retry must not trust ANY of the half-swept physical state
    def rm(p: String): Unit = {
      def walk(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(walk)
        f.delete(): Unit
      }
      walk(new java.io.File(p))
    }
    rm(s"$base/vacuum_audit")
    rm(s"$base/files/v1/pt=0")
    assert(!new java.io.File(s"$base/manifests/v1.txt").exists,
      "construction drift: the completed sweep should have tombstoned v1")
    val retry = E.vacuum(spark, sf).collect().map(_.toSeq).toSeq
    assert(retry == audit, "crash-retry audit drifted from the original")
    val m2 = E.readManifest(E.vacuumBase(sf), 2)
    assert(m2.size == 8 && m2.forall { case (p, ver) =>
      new java.io.File(s"${E.vacuumBase(sf)}/files/$ver/pt=$p").exists },
      "retained version must resolve completely after the rebuild")
  }

  /** WAP retry after a crash between the publish rename and the audit
    * _SUCCESS: files/clean already exists (the orphan), staging/clean
    * does not. The retry must overwrite the orphan instead of wedging
    * on renameTo into an existing dir, and replay the identical
    * audit. */
  test("etl_wap crash-retry: an orphan published dir is overwritten, not a wedge") {
    val E = graft.queries.EtlQueries
    val audit = E.wap(spark, sf).collect().map(_.toSeq).toSeq
    val base = E.wapBase(sf)
    def rm(p: String): Unit = {
      def walk(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(walk)
        f.delete(): Unit
      }
      walk(new java.io.File(p))
    }
    rm(s"$base/wap_audit")
    assert(new java.io.File(s"$base/files/clean").exists &&
      !new java.io.File(s"$base/staging/clean").exists,
      "construction drift: post-publish state should be the orphan shape")
    val retry = E.wap(spark, sf).collect().map(_.toSeq).toSeq
    assert(retry == audit, "crash-retry audit drifted from the original")
  }

  /** Partition evolution's contracts: the evolved commit rewrites
    * nothing (v1 files byte-identical), the manifest carries both
    * schemes, dir-level pruning is real (B dirs outside the window
    * are never in the read set), and the evolved read loses nothing
    * vs a direct recomputation. */
  test("etl_partition_evolution: zero rewrite, per-scheme pruning, lossless read") {
    import org.apache.spark.sql.functions._
    val E = graft.queries.EtlQueries
    val r = E.partitionEvolution(spark, sf).collect()(0)
    // lossless: equals a direct Q1'95 aggregate over the raw table
    val want = Tables.orders(spark, sf)
      .filter(col("o_orderdate").cast("date").between("1995-01-01", "1995-03-31"))
      .agg(count(lit(1)), sum(round(col("o_totalprice") * 100).cast("bigint")),
        sum(col("o_orderkey"))).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      (want.getLong(0), want.getLong(1), want.getLong(2)))
    // pruning: every month of the new batch exists as a B dir, but the
    // read set opened only the window's months
    assert(r.getLong(4) < r.getLong(5),
      s"B-dir pruning did not drop anything: read ${r.getLong(4)} of ${r.getLong(5)}")
    assert(r.getLong(3) == 8, "key-hash dirs cannot prune a date window")
    // zero rewrite: re-running evolves nothing and touches no v1 file
    val base = E.partitionEvolutionBase(sf)
    def v1State() = {
      def walk(f: java.io.File): Iterator[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles).map(_.iterator.flatMap(walk)).getOrElse(Iterator.empty)
        else Iterator.single(f)
      walk(new java.io.File(s"$base/files/v1"))
        .map(f => f.getAbsolutePath -> (f.length, f.lastModified)).toMap
    }
    val before = v1State()
    assert(E.partitionEvolution(spark, sf).collect()(0) == r)
    assert(v1State() == before, "v1 files were rewritten")
  }

  /** WAP's physical contract: the rejected batch's files stay in
    * staging (dead letter) and never enter a manifest, the published
    * batch's files move into the table, the visible count tracks the
    * decisions, and the audit replays idempotently. */
  test("etl_wap: dirty stays staged and invisible; clean publishes; idempotent") {
    val E = graft.queries.EtlQueries
    val audit = E.wap(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4)))
    val Array(clean, dirty) = audit
    assert(dirty._3 > 0 && !dirty._4,
      s"construction must inject real violations, got $dirty")
    assert(clean._3 == 0 && clean._4)
    assert(clean._5 == dirty._5 + clean._2,
      "published batch must add exactly its rows to the visible store")
    val base = E.wapBase(sf)
    assert(new java.io.File(s"$base/staging/dirty").exists,
      "rejected batch's dead-letter files are gone")
    assert(!new java.io.File(s"$base/files/dirty").exists,
      "rejected batch leaked into the table directory")
    assert(new java.io.File(s"$base/files/clean").exists)
    val manifests = E.readManifest(base, 2).map(_._2)
    assert(manifests == Seq("base", "clean"),
      s"published manifest must list base+clean only, got $manifests")
    val replay = E.wap(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4)))
    assert(replay.toSeq == audit.toSeq, "replay drifted")
  }

  /** IVM's contract: the incrementally-maintained view equals a full
    * recompute over the new version (Spark-side, independent of the
    * DuckDB gate), and the construction exercises group birth (the
    * 'X' group exists only after the update batch). */
  test("etl_matview: maintained view equals full recompute; groups are born") {
    import org.apache.spark.sql.functions._
    val E = graft.queries.EtlQueries
    val got = E.matview(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1),
        math.round(r.getDouble(2) * 100)))
    def changed(k: Long) = (k % 8 == 2 || k % 8 == 5) && k % 3 == 0
    val v2 = orders.filter { case (k, _, _) => k % 7 != 6 && !changed(k) } ++
      orders.filter { case (k, _, _) => changed(k) && k % 2 == 0 }
        .map { case (k, _, c) => (k, "X", c) }
    val expected = v2.groupBy(_._2).map { case (st, rows) =>
      (st, rows.size.toLong, rows.map(_._3).sum)
    }.toSeq.sortBy(_._1)
    assert(got == expected, "maintained view diverged from full recompute")
    assert(got.exists(_._1 == "X"), "update-born group missing")
  }

  /** The change feed's membership rules, replayed independently from
    * the raw key set: deletes are v1-members whose change op is D,
    * updates are v1-members upserted to 'X', inserts are upserted keys
    * outside the v1 slice — and before/after images carry the right
    * statuses for each op. */
  test("etl_changefeed: ops and images match an independent key replay") {
    val E = graft.queries.EtlQueries
    val feed = E.changeFeed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(3))))
    val orig = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def changed(k: Long) = (k % 8 == 2 || k % 8 == 5) && k % 3 == 0
    val inV1 = orig.keySet.filter(_ % 7 != 6)
    val expected = orig.keysIterator.collect {
      case k if changed(k) && k % 2 == 1 && inV1(k) =>
        (k, "D", Some(orig(k)), None)
      case k if changed(k) && k % 2 == 0 && inV1(k) =>
        (k, "U", Some(orig(k)), Some("X"))
      case k if changed(k) && k % 2 == 0 && !inV1(k) =>
        (k, "I", None, Some("X"))
    }.toSeq.sortBy(_._1)
    assert(feed.toSeq == expected)
    assert(Set("D", "U", "I").subsetOf(feed.map(_._2).toSet),
      "construction must exercise all three ops")
  }

  /** The 100 TB contract of partition-scoped CoW: a re-merge must leave
    * every file of every UNtouched partition byte-identical and
    * un-rewritten (pinned via path→(length, mtime)), while the touched
    * partitions (pt=2 upserts, pt=5 delete-only) are rewritten, and the
    * summary stays bit-identical (idempotent merge). */
  test("merge rewrites only the partitions containing change keys") {
    val first = graft.queries.EtlQueries.merge(spark, sf).collect().toSeq
    val targetDir = new java.io.File(
      graft.queries.EtlQueries.mergeBase(sf), "target")
    def snapshot(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Iterator[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles).map(_.iterator.flatMap(walk)).getOrElse(Iterator.empty)
        else Iterator.single(f)
      walk(targetDir)
        .map(f => f.getAbsolutePath -> (f.length, f.lastModified)).toMap
    }
    val before = snapshot()
    val touchedPts = Set("pt=2", "pt=5")
    assert(touchedPts.forall(p => before.keys.exists(_.contains(p))),
      "construction must populate the touched partitions")
    assert(before.keys.exists(k => !touchedPts.exists(k.contains)),
      "construction must have untouched partitions to pin")
    Thread.sleep(1100) // outlast filesystem mtime granularity
    val second = graft.queries.EtlQueries.merge(spark, sf).collect().toSeq
    assert(second == first, "merge is not idempotent")
    val after = snapshot()
    val untouchedBefore = before.filter(k => !touchedPts.exists(k._1.contains))
    val untouchedAfter = after.filter(k => !touchedPts.exists(k._1.contains))
    assert(untouchedAfter == untouchedBefore,
      "untouched partition files were rewritten — merge is not partition-scoped")
    // and the touched partitions really were rewritten (same data, new files)
    val touchedSame = before.exists { case (k, v) =>
      touchedPts.exists(k.contains) && after.get(k).contains(v) &&
        !k.endsWith("_SUCCESS")
    }
    assert(!touchedSame, "touched partitions were not rewritten")
  }

  test("config parses the reference yaml schema") {
    val cfg = GraftConfig.fromYamlString(goodYaml)
    assert(cfg.db.tableName == "warehouse_t")
    assert(cfg.s3.downloadBatchSize == 2)
    assert(cfg.parquet.desiredFields == Seq("delivery_id", "body"))
    assert(cfg.parquetToDb.get("delivery_id").contains("id"))
    assert(cfg.parquetToDb.get("body").isEmpty)
    assert(cfg.workLists.dir == "work")
  }

  test("config errors on missing required fields") {
    val noDb = goodYaml.linesIterator.filterNot(_.startsWith("db"))
      .filterNot(_.contains("table_name")).filterNot(_.contains("conn_str"))
      .mkString("\n")
    assertThrows[IllegalArgumentException](GraftConfig.fromYamlString(noDb))
    assertThrows[IllegalArgumentException](GraftConfig.fromYamlString(
      goodYaml.replace("  desired_fields:\n    - delivery_id\n    - body\n", "  desired_fields: []\n")))
  }

  // ---- WorkLists --------------------------------------------------------

  test("worklists: first batch moves items todo -> wip, skips comments") {
    val d = tmpDir("wl1")
    writeFile(d, "todo", "# header\nitem_A\n\nitem_B\nitem_C\nitem_D\nitem_E\n")
    val wl = new WorkLists(d, 3)
    assert(wl.nextBatch() == Vector("item_A", "item_B", "item_C"))
    assert(Files.readString(Paths.get(d, "todo")) == "item_D\nitem_E\n")
    assert(Files.readString(Paths.get(d, "wip")) == "item_A\nitem_B\nitem_C\n")
  }

  test("worklists: existing wip resumes in full regardless of batch size") {
    val d = tmpDir("wl2")
    writeFile(d, "todo", "item_X\n")
    writeFile(d, "wip", "ITEM_A\n# noise\nITEM_B\n")
    val wl = new WorkLists(d, 1)
    assert(wl.wipList == Vector("ITEM_A", "ITEM_B"))
    assert(wl.nextBatch() == Vector("ITEM_A", "ITEM_B")) // wip drains first
  }

  test("worklists: markCompleted appends completed then rewrites wip") {
    val d = tmpDir("wl3")
    writeFile(d, "todo", "apple\nbanana\n")
    val wl = new WorkLists(d, 2)
    wl.nextBatch()
    wl.markCompleted("apple")
    assert(Files.readString(Paths.get(d, "completed")) == "apple\n")
    assert(Files.readString(Paths.get(d, "wip")) == "banana\n")
    wl.markCompleted("banana")
    assert(Files.readString(Paths.get(d, "completed")) == "apple\nbanana\n")
    assert(wl.nextBatch().isEmpty)
  }

  test("worklists: inconsistent wip file is a hard error") {
    val d = tmpDir("wl4")
    writeFile(d, "todo", "x\n")
    writeFile(d, "wip", "ITEM_A\n")
    val wl = new WorkLists(d, 1)
    writeFile(d, "wip", "TAMPERED\n")
    assertThrows[IllegalStateException](wl.nextBatch())
    assert(Files.readString(Paths.get(d, "todo")) == "x\n") // todo untouched
  }

  test("worklists: missing todo file errors") {
    val d = tmpDir("wl5")
    assertThrows[IllegalArgumentException](new WorkLists(d, 1))
  }

  test("worklists: rewrites replace todo and wip by rename and leave no temp file") {
    val d = tmpDir("wl6")
    writeFile(d, "todo", "a\nb\nc\n")
    writeFile(d, "wip", "")
    def key(name: String): AnyRef = Files.readAttributes(Paths.get(d, name),
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    val wl = new WorkLists(d, 2)
    val (todo0, wip0) = (key("todo"), key("wip"))
    assert(todo0 != null && wip0 != null, "this file system reports no file keys")
    assert(wl.nextBatch() == Vector("a", "b"))
    val (todo1, wip1) = (key("todo"), key("wip"))
    assert(todo1 != todo0 && wip1 != wip0)
    wl.markCompleted("a")
    assert(key("wip") != wip1 && key("todo") == todo1)
    assert(Files.readString(Paths.get(d, "wip")) == "b\n")
    assert(Files.readString(Paths.get(d, "todo")) == "c\n")
    import scala.jdk.CollectionConverters._
    val names = Files.list(Paths.get(d)).iterator().asScala.map(_.getFileName.toString).toSet
    assert(names == Set("todo", "wip", "completed"), names)
  }

  // ---- ParquetSource ----------------------------------------------------

  test("selectFields: order preserved, duplicates suffixed, missing errors") {
    val df = Tables.customer(spark, sf)
    val sel = ParquetSource.selectFields(df, Seq("c_name", "c_custkey", "c_name"))
    assert(sel.columns.toSeq == Seq("c_name", "c_custkey", "c_name_1"))
    val ex = intercept[IllegalArgumentException](
      ParquetSource.selectFields(df, Seq("c_name", "does.not.exist")))
    assert(ex.getMessage.contains("does.not.exist"))
  }

  test("schema display renders indices and types") {
    val out = SchemaDisplay.render(Tables.customer(spark, sf).schema)
    assert(out.contains("0) c_custkey"))
    assert(out.contains("4) c_mktsegment : STRING"))
  }

  // ---- TypeMapping ------------------------------------------------------

  test("type mapping rejects unsupported conversions") {
    val df = Tables.customer(spark, sf)
    assertThrows[IllegalArgumentException](
      TypeMapping.castTo(df, Map("c_name" -> "bigint")))
    assertThrows[IllegalArgumentException](
      TypeMapping.castTo(df, Map("no_such_col" -> "int")))
  }

  test("type mapping DECIMAL arms: scale-2 passthrough, double, text, scale-0 bigint") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val df = spark.range(1).select(
      expr("CAST(1234.56 AS DECIMAL(12,2))").as("amt"),
      expr("CAST(1234.56 AS DECIMAL(12,2))").as("amt_d"),
      expr("CAST(1234.56 AS DECIMAL(12,2))").as("amt_t"),
      expr("CAST(789 AS DECIMAL(10,0))").as("whole"))
    val out = TypeMapping.castTo(df, Map(
      "amt" -> "numeric", "amt_d" -> "double",
      "amt_t" -> "text", "whole" -> "bigint"))
    assert(out.schema("amt").dataType == DecimalType(12, 2))
    assert(out.schema("amt_d").dataType == DoubleType)
    assert(out.schema("amt_t").dataType == StringType)
    assert(out.schema("whole").dataType == LongType)
    val r = out.head()
    assert(r.getDecimal(0).toPlainString == "1234.56")
    assert(r.getDouble(1) == 1234.56)
    assert(r.getString(2) == "1234.56")
    assert(r.getLong(3) == 789L)
    // a scale-carrying DECIMAL must NOT silently truncate to bigint
    assertThrows[IllegalArgumentException](
      TypeMapping.castTo(df, Map("amt" -> "bigint")))
  }

  test("BOOLEAN casts preserve NULL (never coerce to 0/'false')") {
    import org.apache.spark.sql.functions._
    // reference contract: Field::Null stays NULL for every type
    // (converters.rs:248); .otherwise(0) silently corrupted NULLs
    val df = spark.range(3).select(
      when(col("id") === 0, lit(true)).when(col("id") === 1, lit(false))
        .as("b1"),
      when(col("id") === 0, lit(true)).when(col("id") === 1, lit(false))
        .as("b2"))
    val out = TypeMapping.castTo(df,
      Map("b1" -> "smallint", "b2" -> "text")).orderBy(col("b1"))
    val rows = out.collect()
    assert(rows.map(r => if (r.isNullAt(0)) null else r.getShort(0)).toSet ==
      Set(1.toShort, 0.toShort, null))
    assert(rows.map(r => if (r.isNullAt(1)) null else r.getString(1)).toSet ==
      Set("true", "false", null))
  }

  // ---- table sink (INSERT arm) vs embedded Derby -----------------------

  private def derby(db: String) = s"jdbc:derby:memory:$db;create=true"

  private def exec(url: String, sql: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try { c.createStatement().execute(sql) } finally c.close()
  }

  private def queryLong(url: String, sql: String): Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  test("jdbc sink writes rows and validates aliases (reference db.rs semantics)") {
    val url = derby("sink1")
    exec(url, "CREATE TABLE warehouse_t (customer_id BIGINT, customer_name VARCHAR(64), balance DOUBLE)")
    val df = Tables.customer(spark, sf)
      .select("c_custkey", "c_name", "c_acctbal").limit(50)
    val n = PgCopySink.write(df, url, "warehouse_t",
      Map("c_custkey" -> Some("customer_id"), "c_name" -> Some("customer_name"),
        "c_acctbal" -> Some("balance")))
    assert(n == 50)
    assert(queryLong(url, "SELECT COUNT(*) FROM warehouse_t") == 50)

    // unknown alias target
    assertThrows[IllegalArgumentException](PgCopySink.write(df, url, "warehouse_t",
      Map("c_custkey" -> Some("not_a_col"))))
    // no alias and no same-named column
    assertThrows[IllegalArgumentException](
      PgCopySink.write(df, url, "warehouse_t", Map.empty))
    // nonexistent table
    assertThrows[IllegalArgumentException](
      PgCopySink.write(df, url, "no_such_table", Map.empty))
  }

  test("jdbc sink surfaces db constraint violations (reference runner semantics)") {
    val url = derby("sinkviol")
    exec(url, "CREATE TABLE strict_t (customer_id BIGINT NOT NULL, note VARCHAR(32))")
    import org.apache.spark.sql.functions._
    val df = Tables.customer(spark, sf).limit(5)
      .select(lit(null).cast("bigint").as("customer_id"),
        col("c_name").as("note"))
    val ex = intercept[Exception](PgCopySink.write(df, url, "strict_t"))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m => m != null && m.toLowerCase.contains("null")),
      s"expected not-null violation, got: $ex")
    assert(queryLong(url, "SELECT COUNT(*) FROM strict_t") == 0)
  }

  test("parquet sink writes prunable directory partitions") {
    val out = tmpDir("pqsink") + "/docs"
    graft.sinks.ParquetSink.write(
      Tables.documents(spark, sf), out, partitionBy = Seq("lang"))
    val langs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("lang=")).map(_.getName).sorted
    assert(langs.length >= 4, s"expected lang partitions, got ${langs.toSeq}")
    val back = spark.read.parquet(out)
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
    assert(back.count() ==
      Tables.documents(spark, sf)
        .filter(org.apache.spark.sql.functions.col("lang") === "en").count())
  }

  test("registerViews makes every table SQL-addressable") {
    Tables.registerViews(spark, sf)
    val n = spark.sql(
      "SELECT COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .head().getLong(0)
    assert(n > 0)
    assert(spark.sql("SELECT MAX(ts) FROM events").head().get(0) != null)
  }

  // ---- Pipeline end-to-end ---------------------------------------------

  test("pipeline: batched worklist load from local 'bucket' into Derby") {
    val bucket = tmpDir("bucket")
    val work = tmpDir("work")
    val url = derby("pipe1")
    // three "s3 objects" of 2 keys worth of lineitem slices
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity", "l_returnflag")
    li.filter(org.apache.spark.sql.functions.col("l_orderkey") <= 100)
      .write.parquet(s"$bucket/part1.parquet")
    li.filter(org.apache.spark.sql.functions.col("l_orderkey").between(101, 200))
      .write.parquet(s"$bucket/part2.parquet")
    li.filter(org.apache.spark.sql.functions.col("l_orderkey") > 200)
      .write.parquet(s"$bucket/nested/part3.parquet")
    writeFile(work, "todo", "part1.parquet\npart2.parquet\nnested/part3.parquet\n")
    exec(url, "CREATE TABLE load_t (order_id BIGINT, qty DOUBLE, flag VARCHAR(1))")

    val cfg = GraftConfig(
      DbConfig("load_t", url),
      S3Config(bucket, downloadBatchSize = 2, downloadsDir = "unused"),
      ParquetConfig(Seq("l_orderkey", "l_quantity", "l_returnflag")),
      Some(Map("l_orderkey" -> Some("order_id"), "l_quantity" -> Some("qty"),
        "l_returnflag" -> Some("flag"))),
      WorkListsConfig(work))

    val total = Pipeline.run(spark, cfg)
    assert(total == li.count())
    assert(queryLong(url, "SELECT COUNT(*) FROM load_t") == li.count())
    val completed = Files.readString(Paths.get(work, "completed"))
    assert(completed == "part1.parquet\npart2.parquet\nnested/part3.parquet\n")
    assert(Files.readString(Paths.get(work, "wip")).isEmpty)
  }

  /** Object-store contract: a bucket-shaped layout mimicking the
    * reference's localstack fixture (bucket_data/customer-orders-parquet
    * with order_NN.parquet objects), a crash that strands a batch in
    * `wip`, and a resume that must drain the stranded batch FIRST —
    * in full, regardless of the new batch size — before touching todo
    * (reference work_lists.rs:48-200 resume semantics). The crash lands
    * between take-batch and the sink write, so resume must deliver
    * every object's rows exactly once. */
  test("pipeline: crash strands wip; resume drains it first with per-item parity") {
    val bucket = tmpDir("customer-orders-parquet")
    val work = tmpDir("work_resume")
    val url = derby("pipe_resume")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val objects = (0 until 6).map(i => f"order_$i%02d.parquet")
    objects.zipWithIndex.foreach { case (name, i) =>
      o.filter(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("o_orderkey"),
          org.apache.spark.sql.functions.lit(6)) === i)
        .write.parquet(s"$bucket/$name")
    }
    writeFile(work, "todo", objects.mkString("", "\n", "\n"))
    exec(url, "CREATE TABLE resume_t (order_id BIGINT, price DOUBLE)")

    // crash simulation: a run takes its first batch (todo -> wip) and
    // dies before writing anything — order_00/order_01 are stranded
    val crashed = new WorkLists(work, 2)
    assert(crashed.nextBatch() == objects.take(2).toVector)
    assert(Files.readString(Paths.get(work, "wip")).trim.nonEmpty)
    // (process abandoned here — no sink write, no markCompleted)

    // resume with a DIFFERENT batch size: the stranded wip must come
    // back as the first batch in full, then todo in 3s
    val cfg = GraftConfig(
      DbConfig("resume_t", url),
      S3Config(bucket, downloadBatchSize = 3, downloadsDir = "unused"),
      ParquetConfig(Seq("o_orderkey", "o_totalprice")),
      Some(Map("o_orderkey" -> Some("order_id"), "o_totalprice" -> Some("price"))),
      WorkListsConfig(work))
    val total = Pipeline.run(spark, cfg)

    // exactly-once per item: every object's slice landed once
    assert(total == o.count())
    assert(queryLong(url, "SELECT COUNT(*) FROM resume_t") == o.count())
    assert(queryLong(url, "SELECT COUNT(DISTINCT order_id) FROM resume_t") == o.count())
    (0 until 6).foreach { i =>
      val expected = o.filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("o_orderkey"),
        org.apache.spark.sql.functions.lit(6)) === i).count()
      assert(queryLong(url,
        s"SELECT COUNT(*) FROM resume_t WHERE MOD(order_id, 6) = $i") == expected,
        s"item ${objects(i)} parity")
    }
    // completion log: stranded batch first, every item exactly once
    val completed = Files.readString(Paths.get(work, "completed"))
      .linesIterator.toVector
    assert(completed == objects.toVector)
    assert(Files.readString(Paths.get(work, "wip")).isEmpty)
    assert(Files.readString(Paths.get(work, "todo")).isEmpty)
  }

  /** The object-store gap: every other ETL test
    * reaches the Hadoop FS API through `file://`, so the non-file branch
    * (authority parsing, scheme-qualified listing, committer renames
    * under a foreign scheme — what s3a actually exercises) never ran.
    * MockS3FileSystem registers a real FileSystem impl under `mocks3://`
    * and this test drives the WHOLE pipeline through it: parquet writes
    * (FileOutputCommitter mkdirs/create/rename/delete over mocks3 URIs),
    * glob-free multi-path scans, work-list crash/resume, JDBC sink. */
  test("pipeline: end-to-end over mocks3:// (non-file Hadoop FS scheme)") {
    val root = tmpDir("mocks3_root")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mocks3.impl", classOf[MockS3FileSystem].getName)
    hc.set("fs.mocks3.root", root)
    // unique bucket per run: the Hadoop FS cache keys on (scheme,
    // authority) and would otherwise pin a previous run's root dir
    val bucket = s"graft-bucket-${System.nanoTime()}"
    val bucketUri = s"mocks3://$bucket"
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val objects = (0 until 4).map(i => f"batch/order_$i%02d.parquet")
    objects.zipWithIndex.foreach { case (name, i) =>
      o.filter(pmod(col("o_orderkey"), lit(4)) === i)
        .write.parquet(s"$bucketUri/$name")
    }
    // the scheme actually mapped to the backing store (not file:/ CWD)
    assert(new java.io.File(s"$root/$bucket/batch/order_00.parquet").isDirectory,
      "mocks3 write did not land under the configured root")
    // read-back THROUGH the scheme: scan planning + footer reads
    assert(spark.read.parquet(s"$bucketUri/${objects.head}").count() ==
      o.filter(pmod(col("o_orderkey"), lit(4)) === 0).count())

    val work = tmpDir("mocks3_work")
    val url = derby("mocks3_pipe")
    writeFile(work, "todo", objects.mkString("", "\n", "\n"))
    exec(url, "CREATE TABLE mocks3_t (order_id BIGINT, price DOUBLE)")

    // crash: a run strands its first batch in wip, then dies pre-sink
    val crashed = new WorkLists(work, 2)
    assert(crashed.nextBatch() == objects.take(2).toVector)

    // resume over mocks3:// URIs with a different batch size: stranded
    // wip drains first, then todo; every object's rows land exactly once
    val cfg = GraftConfig(
      DbConfig("mocks3_t", url),
      S3Config(bucketUri, downloadBatchSize = 3, downloadsDir = "unused"),
      ParquetConfig(Seq("o_orderkey", "o_totalprice")),
      Some(Map("o_orderkey" -> Some("order_id"), "o_totalprice" -> Some("price"))),
      WorkListsConfig(work))
    val total = Pipeline.run(spark, cfg)
    assert(total == o.count())
    assert(queryLong(url, "SELECT COUNT(*) FROM mocks3_t") == o.count())
    assert(queryLong(url, "SELECT COUNT(DISTINCT order_id) FROM mocks3_t") == o.count())
    val completed = Files.readString(Paths.get(work, "completed")).linesIterator.toVector
    assert(completed == objects.toVector)
    assert(Files.readString(Paths.get(work, "wip")).isEmpty)
  }

  /** etl_cluster's skippability claim, verified at the parquet-footer
    * level: every row group of the clustered copy must carry real
    * min/max stats on ship_date (the reason the rewrite normalises the
    * INT96 timestamp to DATE), row groups within a file must be sorted,
    * and the query's one-month window must intersect only a minority of
    * row groups — the structural property that lets the reader skip the
    * rest at 100 TB. */
  test("etl_cluster: sorted rewrite yields skippable row-group stats") {
    import scala.jdk.CollectionConverters._
    // run once: materializes the clustered copy and checks the plan
    val df = graft.queries.EtlQueries.cluster(spark, sf)
    assert(df.collect().head.getLong(0) > 0, "window must be non-empty")
    val scanMeta = df.queryExecution.executedPlan.toString
    assert(scanMeta.contains("PushedFilters") && scanMeta.contains("ship_date"),
      s"date filter did not reach the parquet scan:\n$scanMeta")
    val dir = new java.io.File(
      graft.queries.EtlQueries.clusterBase(sf), "clustered")
    val files = dir.listFiles.filter(_.getName.endsWith(".parquet")).sorted
    assert(files.length >= 4, s"expected >=4 range files, got ${files.length}")
    val conf = new org.apache.hadoop.conf.Configuration()
    val perFile: Seq[Seq[(Int, Int)]] = files.toSeq.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRowGroups.asScala.toSeq.map { rg =>
        val cc = rg.getColumns.asScala
          .find(_.getPath.toDotString == "ship_date").get
        val st = cc.getStatistics
        assert(st != null && !st.isEmpty && st.hasNonNullValue,
          s"row group without ship_date stats in ${f.getName}")
        (st.genericGetMin.asInstanceOf[Number].intValue,
          st.genericGetMax.asInstanceOf[Number].intValue)
      } finally r.close()
    }
    // sorted within every file: row-group mins non-decreasing
    perFile.foreach { rgs =>
      assert(rgs.map(_._1) == rgs.map(_._1).sorted, s"unsorted row groups: $rgs")
    }
    // the query window (days since epoch) touches a minority of groups
    val lo = java.time.LocalDate.parse("1995-03-01").toEpochDay.toInt
    val hi = java.time.LocalDate.parse("1995-03-31").toEpochDay.toInt
    val all = perFile.flatten
    val touched = all.count { case (mn, mx) => mx >= lo && mn <= hi }
    assert(touched > 0, "window must intersect some row group")
    assert(touched <= all.size / 2,
      s"clustering failed: window intersects $touched of ${all.size} row groups")
  }

  test("etl_bucket_join: zero-exchange zero-sort SMJ, values match raw join") {
    import org.apache.spark.sql.functions._
    val df = graft.queries.EtlQueries.bucketJoin(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the physical claim the gated row carries: plan-walk found an SMJ
    // with nothing shuffling or sorting below it
    assert(rows.forall(_.getBoolean(4)),
      "bucketed join was not exchange- and sort-free")
    // value parity against the same aggregate over the RAW tables
    // (independent plan: plain shuffle join, no bucketing)
    val raw = graft.Tables.lineitem(spark, sf)
      .filter(col("l_returnflag") === "R")
      .join(graft.Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        expr("SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))").as("rev_cents"))
      .orderBy(col("o_orderpriority"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      == raw.toSeq)
    // single-file buckets: the write discipline the sort elision rests
    // on — exactly one data file per bucket in each table dir
    val warehouse = new java.io.File(sys.props("java.io.tmpdir"))
    val dirs = warehouse.listFiles
      .filter(f => f.getName.startsWith("graft_bktlineitem_") ||
        f.getName.startsWith("graft_bktorders_"))
      .filter(_.getName.endsWith(s"_p${ProcessHandle.current().pid()}"))
    assert(dirs.length == 2, s"expected 2 bucket table dirs, got ${dirs.toSeq}")
    dirs.foreach { dir =>
      val data = dir.listFiles.filter(_.getName.endsWith(".parquet"))
      assert(data.length == 8,
        s"${dir.getName}: expected 8 single-file buckets, got ${data.length}")
    }
    // idempotent within a session: a second call serves from the
    // catalog — no file in either table dir is rewritten
    val before = dirs.flatMap(_.listFiles).map(f => f.getPath -> f.lastModified).toMap
    graft.queries.EtlQueries.bucketJoin(spark, sf).collect()
    val after = dirs.flatMap(_.listFiles).map(f => f.getPath -> f.lastModified).toMap
    assert(before == after, "second call rewrote the bucketed tables")
  }

  test("etl_skew_audit: in-memory replay of counts, shares and salt factors") {
    val got = graft.queries.EtlQueries.skewAudit(spark, sf).collect()
    assert(got.length == 10)
    val counts = graft.Tables.orders(spark, sf)
      .select("o_custkey").collect().map(_.getLong(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = counts.values.sum
    val nKeys = counts.size.toLong
    val top = counts.toSeq.sortBy { case (k, c) => (-c, k) }.take(10)
    got.zip(top).zipWithIndex.foreach { case ((r, (k, c)), i) =>
      assert(r.getInt(0) == i + 1 && r.getLong(1) == k && r.getLong(2) == c,
        s"rank ${i + 1} heavy hitter diverged")
      assert(r.getLong(3) == c * 1000000L / total, "ppm share diverged")
      assert(r.getLong(4) == (c * nKeys + total - 1) / total,
        "salt factor diverged")
      assert(r.getLong(5) == total && r.getLong(6) == nKeys)
      assert(r.getLong(7) == counts.values.max)
    }
    // a leveled key needs no salt: factor 1 iff cnt <= mean(ceil)
    assert(got.forall(_.getLong(4) >= 1L))
  }

  test("etl_stats: single scan, values agree with direct recomputation") {
    import org.apache.spark.sql.functions._
    val df = graft.queries.EtlQueries.stats(spark, sf)
    // ONE table scan feeds all 7 columns' statistics: the narrow
    // (idx, value) explode (Generate) replaces the multi-distinct
    // Expand — never 7 scans and never an Expand
    // (string-matched: AQE wraps the plan, hiding nodes from collect())
    val plan = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
    assert(plan.contains("Generate"), "stats should pivot via a plan-side explode")
    assert(!plan.contains("Expand"), "the multi-distinct Expand shape is the slow path")
    val rows = df.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(rows.keySet == Set("l_orderkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_returnflag", "l_linestatus", "l_shipdate"))
    val li = Tables.lineitem(spark, sf)
    val n = li.count()
    val flags = li.select("l_returnflag").distinct().collect()
      .map(_.getString(0)).sorted
    val (nr, nn, nd, mn, mx) = rows("l_returnflag")
    assert(nr == n && nn == 0 && nd == flags.length &&
      mn == flags.head && mx == flags.last)
    val qty = li.select(min(col("l_quantity")), max(col("l_quantity"))).head()
    assert(rows("l_quantity")._4 == qty.getDouble(0).toLong.toString &&
      rows("l_quantity")._5 == qty.getDouble(1).toLong.toString)
    assert(rows.values.forall(_._1 == n), "n_rows must be the table count everywhere")
  }

  test("etl_quarantine: rows route to per-reason dirs, nothing lost") {
    import org.apache.spark.sql.functions._
    val summary = graft.queries.EtlQueries.quarantine(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary.keySet == Set("ok", "null_price", "bad_status"))
    val total = Tables.orders(spark, sf).count()
    assert(summary.values.sum == total, "routing must partition the input exactly")
    val base = graft.queries.EtlQueries.quarantineBase(sf)
    // the quarantine stays queryable per reason — and pure: every row in
    // null_price is a %37 key, every bad_status row a %41 (non-%37) key
    val nullKeys = spark.read.parquet(s"$base/routed/reason=null_price")
      .select("o_orderkey").collect().map(_.getLong(0))
    assert(nullKeys.nonEmpty && nullKeys.forall(_ % 37 == 0))
    val badKeys = spark.read.parquet(s"$base/routed/reason=bad_status")
      .select("o_orderkey").collect().map(_.getLong(0))
    assert(badKeys.nonEmpty && badKeys.forall(k => k % 41 == 0 && k % 37 != 0))
  }

  test("etl_scd2: SCD2 invariants — no-op suppression, one current row, contiguous validity") {
    val rows = graft.queries.EtlQueries.scd2(spark, SparkTestSession.sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getTimestamp(4), Option(r.getTimestamp(5)), r.getInt(6)))
    val byKey = rows.groupBy(_._1)
    // the 1996-01-01 wave re-delivers then-current values for every %5
    // key: a correct apply suppresses ALL of it
    val noop = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    assert(rows.forall(_._5 != noop), "no-op change wave must open no versions")
    // exactly one open (is_current) version per key, and it's the last
    byKey.foreach { case (k, vs) =>
      val sorted = vs.sortBy(_._2)
      assert(sorted.count(_._7 == 1) == 1, s"key $k: current-count != 1")
      assert(sorted.last._7 == 1 && sorted.last._6.isEmpty,
        s"key $k: open version must be the last, with NULL valid_to")
      // versions are 1..n and validity is contiguous: valid_to(v) == valid_from(v+1)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._6.contains(b._5),
          s"key $k: validity gap between v${a._2} and v${b._2}")
        case _ => ()
      }
    }
    // %21 keys see base + both balance events + the second rotation
    val k21 = byKey.filter(_._1 % 21 == 0)
    assert(k21.nonEmpty && k21.values.forall(_.length == 4),
      "every %21 key must carry exactly 4 versions")
    // untouched keys stay single-version
    val untouched = byKey.filter { case (k, _) => k % 7 != 0 && k % 3 != 0 }
    assert(untouched.nonEmpty && untouched.values.forall(_.length == 1))
  }

  test("binary payloads load to a BLOB column (reference leaves this todo!)") {
    val url = derby("binsink")
    exec(url, "CREATE TABLE bin_t (id BIGINT, payload BLOB)")
    import SparkTestSession.spark.implicits._
    val df = Seq((1L, Array[Byte](1, 2, 3)), (2L, Array[Byte](-1, 0, 5)))
      .toDF("id", "payload")
    val cast = TypeMapping.castTo(df, Map("payload" -> "blob"))
    assert(PgCopySink.write(cast, url, "bin_t") == 2)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "bin_t").load()
    val got = back.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(got(1L) == Seq[Byte](1, 2, 3))
    assert(got(2L) == Seq[Byte](-1, 0, 5))
  }

  test("duplicate desired_fields fail fast with a duplicate-target error") {
    val url = derby("dup1")
    exec(url, "CREATE TABLE dup_t (a BIGINT)")
    val df = Tables.lineitem(spark, sf)
      .select(org.apache.spark.sql.functions.col("l_orderkey"))
    val sel = ParquetSource.selectFields(df, Seq("l_orderkey", "l_orderkey"))
    val ex = intercept[IllegalArgumentException] {
      PgCopySink.write(sel, url, "dup_t", Map("l_orderkey" -> Some("a")),
        sourceFields = Some(Seq("l_orderkey", "l_orderkey")))
    }
    assert(ex.getMessage.contains("duplicate target"))
  }

  test("compaction merges small files and preserves every row") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("compact") + "/t"
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    li.repartition(24).write.parquet(dir) // 24 small files
    val beforeRows = li.count()
    val (nBefore, nAfter) =
      graft.sinks.ParquetSink.compact(spark, dir, targetBytes = 512L * 1024)
    assert(nBefore == 24)
    assert(nAfter < nBefore)
    val after = spark.read.parquet(dir)
    assert(after.count() == beforeRows)
    // content identical, not just counts
    assert(after.except(li).isEmpty && li.except(after).isEmpty)
  }

  test("etl_compact audit: content preserved, re-run idempotent, hive layout refused") {
    import org.apache.spark.sql.functions.col
    val got = graft.queries.EtlQueries.compactAudit(spark, sf).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("files_before") == 64L)
    assert(r.getAs[Long]("files_after") == 1L)
    assert(r.getAs[Boolean]("content_ok"),
      "count + XOR fingerprint must survive the physical rewrite")
    val expectRows = Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 4 === 0).count()
    assert(r.getAs[Long]("n_rows") == expectRows)
    // the audit re-fragments each run, so a second invocation must
    // reproduce the identical row (the operator is idempotent)
    assert(graft.queries.EtlQueries.compactAudit(spark, sf).collect()
      .toSeq == got.toSeq)
    // hive-partitioned layouts are refused, preserving pruning
    val hdir = tmpDir("compact_hive") + "/t"
    Tables.orders(spark, sf).limit(10)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .write.partitionBy("o_orderstatus").parquet(hdir)
    val ex = intercept[IllegalArgumentException] {
      graft.sinks.ParquetSink.compact(spark, hdir)
    }
    assert(ex.getMessage.contains("hive-partitioned"))
  }

  test("CLI arg contract: exactly one arg = the config yaml path") {
    assert(Main.configPath(Array("cfg.yml")) == Right("cfg.yml"))
    assert(Main.configPath(Array.empty).isLeft)
    assert(Main.configPath(Array("cfg.yml", "extra")).isLeft)
  }

  test("etl_histogram: totality, monotone bounds, in-memory parity") {
    val got = graft.queries.EtlQueries.histogram(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // ROUND, not floor: 2-decimal money as a double sits a hair off
    // k/100 and floor lands on k-1 cents
    val cents = Tables.lineitem(spark, sf).select("l_extendedprice").collect()
      .map(r => math.round(r.getDouble(0) * 100))
    val (cmin, cmax) = (cents.min, cents.max)
    val expected = cents
      .map(c => math.min(15L, (c - cmin) * 16 / (cmax - cmin + 1)).toInt -> c)
      .groupBy(_._1).toSeq
      .map { case (b, cs) =>
        (b, cs.length.toLong, cs.map(_._2).min, cs.map(_._2).max) }
      .sortBy(_._1)
    assert(got.toSeq == expected)
    assert(got.map(_._2).sum == cents.length, "every row lands in a bucket")
    // buckets are ordered and non-overlapping on their actual bounds
    got.sliding(2).foreach {
      case Array((_, _, _, hi), (_, _, lo, _)) => assert(hi < lo)
      case _ =>
    }
  }

  test("etl_forget: audit matches an independently computed cascade") {
    val got = graft.queries.EtlQueries.forget(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val subj = Tables.customer(spark, sf).select("c_custkey").collect()
      .map(_.getLong(0)).filter(_ % 10 == 3).toSet
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dropO = orders.filter(o => subj(o._2)).map(_._1).toSet
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val ev = Tables.events(spark, sf).select("event_id", "user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nCust = Tables.customer(spark, sf).count()
    assert(got("customer") ==
      ((subj.size.toLong, nCust - subj.size, subj.sum)))
    assert(got("orders") ==
      ((dropO.size.toLong, orders.length - dropO.size,
        orders.filter(o => subj(o._2)).map(_._1).sum)))
    val dropLi = li.filter(l => dropO(l._1))
    assert(got("lineitem") ==
      ((dropLi.length.toLong, (li.length - dropLi.length).toLong,
        dropLi.map(l => l._1 * 8 + l._2).sum)))
    val dropEv = ev.filter(e => subj(e._2))
    assert(got("events") ==
      ((dropEv.length.toLong, (ev.length - dropEv.length).toLong,
        dropEv.map(_._1).sum)))
  }

  test("etl_checks: clean data passes all rules; injected violations count exactly") {
    val clean = graft.queries.EtlQueries.checks(spark, sf).collect()
    assert(clean.length == 9)
    assert(clean.forall(_.getBoolean(4)), "testdata must pass every rule")

    // synthetic warehouse with one violation of every kind, including a
    // NULL predicate (which must COUNT as a violation, not skip)
    val d = tmpDir("graft_checks")
    import spark.implicits._
    Seq(
      (1L, Option(10.0), 5.0, 0.05, "N"),  // clean
      (1L, Option(0.0), 5.0, 0.05, "A"),   // qty out of [1, 50]
      (1L, Option(10.0), -1.0, 0.05, "R"), // non-positive price
      (1L, Option(10.0), 5.0, 1.5, "N"),   // discount out of [0, 1)
      (1L, Option(10.0), 5.0, 0.05, "X"),  // returnflag outside domain
      (9L, Option.empty[Double], 5.0, 0.05, "N")) // NULL qty; orphan FK
      .toDF("l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag")
      .write.parquet(s"$d/lineitem.parquet")
    Seq(
      (1L, 1L, "O", 10.0),
      (1L, 1L, "F", 10.0),  // duplicate o_orderkey
      (2L, 7L, "Z", -5.0))  // bad status + bad price + orphan custkey
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.parquet(s"$d/orders.parquet")
    Seq(Tuple1(1L)).toDF("c_custkey").write.parquet(s"$d/customer.parquet")

    val got = graft.queries.EtlQueries.checks(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(("lineitem", "quantity_in_1_50")) == ((6L, 2L, false))) // 0 + NULL
    assert(got(("lineitem", "price_positive")) == ((6L, 1L, false)))
    assert(got(("lineitem", "discount_in_0_1")) == ((6L, 1L, false)))
    assert(got(("lineitem", "returnflag_domain")) == ((6L, 1L, false)))
    assert(got(("lineitem", "orderkey_fk")) == ((6L, 1L, false)))
    assert(got(("orders", "orderkey_unique")) == ((3L, 1L, false)))
    assert(got(("orders", "totalprice_positive")) == ((3L, 1L, false)))
    assert(got(("orders", "orderstatus_domain")) == ((3L, 1L, false)))
    assert(got(("orders", "custkey_fk")) == ((3L, 1L, false)))
  }
}
