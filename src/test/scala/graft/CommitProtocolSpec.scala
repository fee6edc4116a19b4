package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.ManifestCommit
import graft.etl.ManifestCommit.Prepared

/** Drives [[graft.etl.ManifestCommit]] through the cases the gated
  * `etl_concurrent_commit` query cannot exercise deterministically:
  * CAS atomicity (exactly one winner per version), the overlapping
  * write-write conflict that forces a data RECOMPUTE (vs the gated
  * query's disjoint pure-rebase), the crash between data write and
  * CAS (orphan data, no manifest — retry must converge), and the
  * bounded give-up under pathological contention. */
class CommitProtocolSpec extends AnyFunSuite {

  private def tmpStore(): String =
    SparkTestSession.tempDir("ccspec").toString

  /** A toy store whose "data" is one text file per partition —
    * content = s"$dir" so reads prove WHICH commit's bytes are
    * visible without involving Spark. */
  private def writeData(base: String, dir: String, parts: Seq[Int]): Unit = {
    parts.foreach { p =>
      val d = Paths.get(s"$base/files/$dir")
      Files.createDirectories(d)
      Files.write(d.resolve(s"pt=$p.txt"), s"$dir:$p".getBytes("UTF-8"))
    }
  }

  private def readVisible(base: String): Map[Int, String] =
    ManifestCommit.readManifest(base, ManifestCommit.currentVersion(base))
      .map { case (p, dir) =>
        p -> new String(Files.readAllBytes(
          Paths.get(s"$base/files/$dir/pt=$p.txt")), "UTF-8")
      }.toMap

  private def bootstrap(base: String, parts: Seq[Int]): Unit = {
    writeData(base, "base", parts)
    assert(ManifestCommit.cas(base, 1, parts.map(p => p -> "base")))
  }

  test("CAS: exactly one of two same-version publishers wins, content is the winner's") {
    val base = tmpStore()
    bootstrap(base, 0 to 3)
    val e1 = (0 to 3).map(p => p -> (if (p == 0) "w1" else "base"))
    val e2 = (0 to 3).map(p => p -> (if (p == 1) "w2" else "base"))
    val r1 = ManifestCommit.cas(base, 2, e1)
    val r2 = ManifestCommit.cas(base, 2, e2)
    assert(r1 && !r2, "first CAS must win, second must lose")
    assert(ManifestCommit.readManifest(base, 2) == e1.sortBy(_._1),
      "v2 content must be the winner's manifest, not a merge or the loser's")
    assert(ManifestCommit.currentVersion(base) == 2)
    // the loser's tmp staging must not linger as store garbage
    val leftovers = new java.io.File(s"$base/manifests").listFiles()
      .map(_.getName).filter(_.contains(".tmp."))
    assert(leftovers.isEmpty, s"tmp staging leaked: ${leftovers.toSeq}")
  }

  test("disjoint loser rebases without recompute and loses no work") {
    val base = tmpStore()
    bootstrap(base, 0 to 3)
    // A rewrites {0}, B rewrites {2} — both prepared against v1
    writeData(base, "A1", Seq(0))
    writeData(base, "B1", Seq(2))
    val aPrep = Prepared("A", 1, Seq(0), "A1",
      (0 to 3).map(p => p -> (if (p == 0) "A1" else "base")))
    val bPrep = Prepared("B", 1, Seq(2), "B1",
      (0 to 3).map(p => p -> (if (p == 2) "B1" else "base")))
    val aRes = ManifestCommit.publish(base, aPrep,
      _ => fail("A must not recompute"))
    val bRes = ManifestCommit.publish(base, bPrep,
      _ => fail("disjoint B must rebase, not recompute"))
    assert(aRes.committedVersion == 2 && aRes.attempts == 1 && !aRes.recomputed)
    assert(bRes.committedVersion == 3 && bRes.attempts == 2 && !bRes.recomputed)
    assert(readVisible(base) == Map(0 -> "A1:0", 1 -> "base:1",
      2 -> "B1:2", 3 -> "base:3"), "final state must carry BOTH writers' work")
  }

  test("overlapping loser is forced to recompute against the winner's version") {
    val base = tmpStore()
    bootstrap(base, 0 to 3)
    // Both rewrite partition 0: B's v1-based bytes are stale once A lands.
    writeData(base, "A1", Seq(0))
    writeData(base, "B1", Seq(0))
    val aPrep = Prepared("A", 1, Seq(0), "A1",
      (0 to 3).map(p => p -> (if (p == 0) "A1" else "base")))
    val bPrep = Prepared("B", 1, Seq(0), "B1",
      (0 to 3).map(p => p -> (if (p == 0) "B1" else "base")))
    assert(ManifestCommit.publish(base, aPrep,
      _ => fail("A must not recompute")).committedVersion == 2)
    var recomputedAgainst = -1
    val bRes = ManifestCommit.publish(base, bPrep, { v =>
      recomputedAgainst = v
      // the recompute READS the current version's bytes (A1) and
      // layers B's change on top — modeled as dir B2
      writeData(base, "B2", Seq(0))
      Prepared("B", v, Seq(0), "B2",
        ManifestCommit.readManifest(base, v).map { case (p, d) =>
          (p, if (p == 0) "B2" else d)
        })
    })
    assert(recomputedAgainst == 2, "recompute must target the winner's version")
    assert(bRes.recomputed && bRes.committedVersion == 3 && bRes.attempts == 2)
    assert(readVisible(base)(0) == "B2:0",
      "partition 0 must show the REcomputed bytes, not the stale v1-based ones")
  }

  test("rebase preserves a partition the loser ADDS (absent from the winner's manifest)") {
    val base = tmpStore()
    bootstrap(base, 0 to 3)
    writeData(base, "A1", Seq(0))
    writeData(base, "B1", Seq(9)) // B introduces partition 9
    val aPrep = Prepared("A", 1, Seq(0), "A1",
      (0 to 3).map(p => p -> (if (p == 0) "A1" else "base")))
    val bPrep = Prepared("B", 1, Seq(9), "B1",
      (0 to 3).map(p => p -> "base") :+ (9 -> "B1"))
    assert(ManifestCommit.publish(base, aPrep,
      _ => fail("A must not recompute")).committedVersion == 2)
    val bRes = ManifestCommit.publish(base, bPrep,
      _ => fail("added-partition B must rebase, not recompute"))
    assert(bRes.committedVersion == 3 && !bRes.recomputed)
    val visible = readVisible(base)
    assert(visible(9) == "B1:9",
      "the ADDED partition must survive the rebase, not silently vanish")
    assert(visible(0) == "A1:0" && visible(1) == "base:1")
    assert(visible.size == 5)
  }

  test("a partition the winner REMOVED counts as a conflict for a loser touching it") {
    val base = tmpStore()
    bootstrap(base, 0 to 3)
    // winner removes partition 2 outright (retention/forget shape)
    assert(ManifestCommit.cas(base, 2,
      Seq(0, 1, 3).map(p => p -> "base")))
    writeData(base, "L1", Seq(2))
    var recomputed = false
    val res = ManifestCommit.publish(base,
      Prepared("L", 1, Seq(2), "L1",
        (0 to 3).map(p => p -> (if (p == 2) "L1" else "base"))),
      { v =>
        recomputed = true
        writeData(base, "L2", Seq(2))
        Prepared("L", v, Seq(2), "L2",
          ManifestCommit.readManifest(base, v) :+ (2 -> "L2"))
      })
    assert(recomputed,
      "rewriting bytes the winner deleted must force a recompute, not a blind rebase")
    assert(res.committedVersion == 3 && res.recomputed)
    assert(readVisible(base)(2) == "L2:2")
  }

  test("crash between data write and CAS leaves only invisible orphans; retry converges") {
    val base = tmpStore()
    bootstrap(base, 0 to 3)
    // 'crash': writer A wrote its data dir but died before publishing
    writeData(base, "A1", Seq(0))
    assert(ManifestCommit.currentVersion(base) == 1,
      "unpublished data must not advance the version")
    assert(readVisible(base) == (0 to 3).map(p => p -> s"base:$p").toMap,
      "readers must still see v1 — the orphan is invisible")
    // an unrelated writer commits meanwhile (the orphan must not block it)
    writeData(base, "C1", Seq(3))
    assert(ManifestCommit.publish(base,
      Prepared("C", 1, Seq(3), "C1",
        (0 to 3).map(p => p -> (if (p == 3) "C1" else "base"))),
      _ => fail("no conflict expected")).committedVersion == 2)
    // A restarts: re-prepares from the CURRENT version (overwriting its
    // own orphan dir — never a committed one) and publishes cleanly
    val cur = ManifestCommit.currentVersion(base)
    writeData(base, "A2", Seq(0))
    val aRes = ManifestCommit.publish(base,
      Prepared("A", cur, Seq(0), "A2",
        ManifestCommit.readManifest(base, cur).map { case (p, d) =>
          (p, if (p == 0) "A2" else d)
        }),
      _ => fail("no conflict expected"))
    assert(aRes.committedVersion == 3 && aRes.attempts == 1)
    assert(readVisible(base) == Map(0 -> "A2:0", 1 -> "base:1",
      2 -> "base:2", 3 -> "C1:3"))
    // no version ever named the orphan dir A1
    (1 to 3).foreach { v =>
      assert(!ManifestCommit.readManifest(base, v).exists(_._2 == "A1"))
    }
  }

  test("pathological contention gives up loudly after maxAttempts") {
    val base = tmpStore()
    bootstrap(base, Seq(0, 1))
    // a rival that lands a DISJOINT commit ahead of every attempt: the
    // victim rebases each time but its CAS always loses
    var rivalV = 1
    def rivalCommits(): Unit = {
      val dir = s"R$rivalV"
      writeData(base, dir, Seq(1))
      val entries = ManifestCommit.readManifest(base, rivalV)
        .map { case (p, d) => (p, if (p == 1) dir else d) }
      assert(ManifestCommit.cas(base, rivalV + 1, entries))
      rivalV += 1
    }
    writeData(base, "V1", Seq(0))
    // wrap cas contention by pre-landing rivals: publish with
    // maxAttempts=3 while a rival owns every next slot
    rivalCommits(); rivalCommits(); rivalCommits()
    val victim = Prepared("V", 1, Seq(0), "V1",
      Seq(0 -> "V1", 1 -> "base"))
    // with maxAttempts=1 the single CAS (against the long-superseded
    // base version) loses to the pre-landed rivals and the bounded
    // give-up fires instead of spinning
    val ex = intercept[IllegalStateException] {
      ManifestCommit.publish(base, victim, _ => fail("disjoint"), maxAttempts = 1)
    }
    assert(ex.getMessage.contains("gave up"))
  }

  test("REAL concurrency: 8 threads race disjoint commits; every one lands, none lost") {
    val base = tmpStore()
    bootstrap(base, 0 to 7)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    val threads = (0 to 7).map { i =>
      new Thread(() => {
        try {
          val dir = s"W$i"
          writeData(base, dir, Seq(i))
          barrier.await() // maximize CAS contention: all publish at once
          val readV = ManifestCommit.currentVersion(base)
          val entries = ManifestCommit.readManifest(base, readV)
            .map { case (p, d) => (p, if (p == i) dir else d) }
          val res = ManifestCommit.publish(base,
            Prepared(s"w$i", readV, Seq(i), dir, entries),
            // disjoint writers: a forced recompute would be a protocol
            // bug, but under real interleaving a writer CAN observe a
            // conflict window where rebase alone suffices — publish
            // decides; this callback re-prepares correctly anyway
            v => Prepared(s"w$i", v, Seq(i), dir,
              ManifestCommit.readManifest(base, v)
                .map { case (p, d) => (p, if (p == i) dir else d) }))
          results.put(s"w$i", res.committedVersion): Unit
        } catch { case t: Throwable => errors.add(t): Unit }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    assert(errors.isEmpty, s"committer failed: ${Option(errors.peek())}")
    assert(results.size == 8, "every writer must land")
    // versions 2..9 each won by exactly one writer
    assert(results.values.asInstanceOf[java.util.Collection[Int]]
      .toArray.map(_.asInstanceOf[Int]).sorted.toSeq == (2 to 9),
      s"versions must be 2..9, one per writer: $results")
    assert(ManifestCommit.currentVersion(base) == 9)
    // the final state carries ALL 8 writers' data — nothing lost
    assert(readVisible(base) == (0 to 7).map(p => p -> s"W$p:$p").toMap)
  }

  test("gated etl_concurrent_commit audit matches the protocol receipts end-to-end") {
    val s = SparkTestSession.spark
    val rows = graft.queries.EtlQueries
      .concurrentCommit(s, SparkTestSession.sf).collect()
    assert(rows.length == 3)
    val byWriter = rows.map(r => r.getString(0) -> r).toMap
    val a = byWriter("A"); val b = byWriter("B"); val f = byWriter("Z_FINAL")
    // A wins v2 first try; B loses once, rebases (disjoint → no
    // recompute), lands v3
    assert(a.getLong(1) == 1 && a.getLong(2) == 1 && a.getLong(3) == 2 && !a.getBoolean(4))
    assert(b.getLong(1) == 1 && b.getLong(2) == 2 && b.getLong(3) == 3 && !b.getBoolean(4))
    assert(f.getLong(3) == 3)
    // no committer's work lost: final marked count = A's + B's
    assert(f.getLong(7) == a.getLong(7) + b.getLong(7))
    assert(f.getLong(7) > 0, "update batches must be non-empty at sf0.001")
  }

  test("two-level layout: paths roll at the GroupSize gate; CAS works across it") {
    val base = SparkTestSession.tempDir("graft_mscale_layout").toString
    val g = ManifestCommit.GroupSize
    assert(ManifestCommit.manifestPath(base, g - 1) ==
      s"$base/manifests/v${g - 1}.txt")
    assert(ManifestCommit.manifestPath(base, g) ==
      s"$base/manifests/g1/v$g.txt")
    assert(ManifestCommit.manifestPath(base, 5 * g + 3) ==
      s"$base/manifests/g5/v${5 * g + 3}.txt")
    // CAS + readManifest across the boundary, first-writer-wins intact
    assert(ManifestCommit.cas(base, (g - 1).toInt, Seq(1 -> "a")))
    assert(ManifestCommit.cas(base, g.toInt, Seq(1 -> "b")))
    assert(!ManifestCommit.cas(base, g.toInt, Seq(1 -> "LOSER")))
    assert(ManifestCommit.readManifest(base, g.toInt) == Seq(1 -> "b"))
    assert(ManifestCommit.currentVersionLong(base) == g)
  }

  test("resolution at 10^3+ commits: newest-first group scan, bounded listings, crash fallback") {
    val base = SparkTestSession.tempDir("graft_mscale_res").toString
    val g = ManifestCommit.GroupSize
    // 10^3+ commits through the REAL protocol (each one a CAS)
    val n = (g + 80).toInt
    (1 to n).foreach { v =>
      assert(ManifestCommit.cas(base, v, Seq(0 -> s"d$v")), s"cas v$v")
    }
    // exhaustive ground truth: recursive walk over every manifest file
    def fullScanMax(b: String): Long = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$b/manifests")).flatMap { f =>
        val nm = f.getName
        if (nm.startsWith("v") && nm.endsWith(".txt"))
          scala.util.Try(nm.stripPrefix("v").stripSuffix(".txt").toLong).toOption
        else None
      }.foldLeft(0L)(math.max)
    }
    assert(fullScanMax(base) == n.toLong)
    assert(ManifestCommit.currentVersionLong(base) == n.toLong)
    // resolution cost: the manifests dir + ONE group dir, never a walk
    // over every group — synthesize 20 more full groups and re-check
    (2L to 21L).foreach { k =>
      val dir = new java.io.File(s"$base/manifests/g$k")
      dir.mkdirs()
      Files.write(java.nio.file.Paths.get(s"$dir/v${k * g}.txt"),
        "0\tsynth".getBytes("UTF-8"))
    }
    assert(ManifestCommit.currentVersionLong(base) == 21L * g)
    assert(ManifestCommit.lastResolveListings.get() == 2,
      "resolution must list the manifests dir + exactly one group")
    // a crash can mkdirs the next group without committing into it:
    // resolution steps back to the newest NON-EMPTY group
    new java.io.File(s"$base/manifests/g22").mkdirs()
    assert(ManifestCommit.currentVersionLong(base) == 21L * g)
    assert(ManifestCommit.lastResolveListings.get() == 3)
    // AS-OF reads stay exact at arbitrary historical versions
    assert(ManifestCommit.readManifest(base, 17) == Seq(0 -> "d17"))
    assert(ManifestCommit.readManifest(base, n) == Seq(0 -> s"d$n"))
  }
}
