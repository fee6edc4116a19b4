package graft

import org.apache.commons.io.FileUtils

/** Content fingerprint of a parquet source table — the ONE definition
  * behind every derived-artifact key (scratch stores, shared pins,
  * persisted indexes), plus where a per-process scratch artifact or a
  * persisted cross-process artifact lives and when it is pruned. It walks nested and partitioned layouts, so a
  * regeneration that moves a part file between subdirectories moves
  * the key and cannot serve stale cached rows.
  *
  * Folds each file's (path-relative-to-root, length, mtime), SORTED
  * by relative path: File.listFiles order is unspecified, so an
  * unsorted fold could change the key for an unchanged source
  * (spurious rewrite), and hashing only the leaf name would miss a
  * part file moving between subdirectories. Length + count ride along
  * because mtime granularity (often 1 s) hides same-tick
  * regenerations. Non-negative so it can name cache directories. */
object SourceKey {
  /** Key of table `table` under the testdata dir `d`. */
  def of(d: String, table: String): Long =
    of(new java.io.File(d, s"$table.parquet"))

  /** Key of any file or directory tree rooted at `root`. */
  def of(root: java.io.File): Long = {
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles).map(_.iterator.flatMap(walk)).getOrElse(Iterator.empty)
      else Iterator.single(f)
    val rootPath = root.toPath
    walk(root).map(f => (rootPath.relativize(f.toPath).toString, f)).toSeq
      .sortBy(_._1) // sort key IS the hashed key: one derivation, no drift
      .foldLeft(17L) { case (h, (rel, f)) =>
        var x = h
        x = x * 1000003L + rel.hashCode
        x = x * 1000003L + f.length
        x * 1000003L + f.lastModified
      } & Long.MaxValue
  }

  /** Name of a persisted, cross-process artifact dir derived from
    * `d`'s `table` (an index, an amplified copy): 16 hex chars of MD5
    * over the canonical source path, [[of]] and `params` (artifact
    * parameters and format version). The canonical path makes every
    * spelling of one source (symlink, `..`, trailing slash) share one
    * dir; [[of]] moves it on any regeneration. */
  def digest(d: String, table: String, params: String): String = {
    val src = new java.io.File(d, s"$table.parquet")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"${src.getCanonicalPath}:${of(src)}:$params".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  /** The one source record of an artifact dir: the canonical path of
    * the table it was derived from. */
  private val Record = "_GRAFT_INDEX_SOURCE"
  private def sourcePath(d: String, table: String): String =
    new java.io.File(d, s"$table.parquet").getCanonicalPath

  private def recordedSource(dir: java.io.File): Option[String] =
    scala.util.Try(java.nio.file.Files.readString(new java.io.File(dir, Record).toPath)).toOption

  /** True if artifact dir `dir` records `d`'s `table` as its source. */
  def recordsSource(dir: java.io.File, d: String, table: String): Boolean =
    recordedSource(dir).contains(sourcePath(d, table))

  /** Absolute `target/<kind>/<digest>` of a persisted, cross-process
    * artifact of `kind` over `d`'s `table`. A dir written before dirs
    * carried records gets its record here, on first use, so the
    * 3 h prune of record-less dirs never removes a dir that is read. */
  def artifactDir(kind: String, d: String, table: String, params: String): String = {
    val dir = new java.io.File(s"target/$kind", digest(d, table, params)).getAbsoluteFile
    if (dir.isDirectory && recordedSource(dir).isEmpty)
      java.nio.file.Files.writeString(new java.io.File(dir, Record).toPath, sourcePath(d, table)): Unit
    dir.getPath
  }

  /** (Re)build the [[artifactDir]] `dir` of `d`'s `table`: empty it,
    * write its source record before any artifact, run `write`, then
    * prune its siblings. Returns the pruned dirs, which in-process
    * memos must drop. A sibling is pruned when
    *  - its record names the same source under another digest
    *    (superseded), at once;
    *  - its recorded source no longer exists (orphaned), or it has no
    *    record (written before records), once untouched for 3 h, the
    *    [[scratchDir]] rule, so a prune cannot race a live reader;
    *  - it is a variant `<digest>_<name>` of a dir pruned here, or of
    *    an absent dir and untouched for 3 h. Variants of a kept digest,
    *    the current one included, are kept. */
  def buildArtifact(dir: String, d: String, table: String)(write: => Unit): Seq[String] = {
    val cur = new java.io.File(dir)
    val src = sourcePath(d, table)
    FileUtils.deleteQuietly(cur)
    cur.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(cur, Record).toPath, src): Unit
    write
    val cutoff = System.currentTimeMillis() - 3L * 3600 * 1000
    val siblings = Option(cur.getParentFile.listFiles).getOrElse(Array.empty[java.io.File])
      .filter(x => x.isDirectory && x.getName != cur.getName)
    val (variants, mains) = siblings.partition(_.getName.contains('_'))
    val doomed = mains.filter(x => recordedSource(x) match {
      case Some(r) => r == src || !new java.io.File(r).exists && x.lastModified < cutoff
      case None => x.lastModified < cutoff
    }).map(_.getName).toSet
    val kept = mains.map(_.getName).toSet -- doomed + cur.getName
    val gone = mains.filter(x => doomed(x.getName)) ++ variants.filter { x =>
      val base = x.getName.takeWhile(_ != '_')
      doomed(base) || !kept(base) && x.lastModified < cutoff
    }
    gone.foreach(FileUtils.deleteQuietly)
    gone.map(_.getPath).toSeq
  }

  /** Per-(sfDir, source-state, process) scratch dir for an artifact of
    * `d`'s `table` whose WRITE is part of the operation under test
    * (format roundtrips, merges, stream sinks). The pid component
    * means two concurrent invocations (bench and verify on the same
    * machine) can never race on mode("overwrite") of the same dirs;
    * the [[of]] key keeps a process's own cache honest across testdata
    * regeneration. Stale siblings — a different source key (regenerated
    * testdata) or a long-dead process's dir (same key, >3 h old; live
    * processes touch their dirs every invocation) — are swept here so
    * runs don't accumulate /tmp garbage. */
  def scratchDir(prefix: String, d: String, table: String): String = {
    val key = s"${d.replaceAll("[^a-zA-Z0-9]", "_")}_${of(d, table)}"
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val dir = new java.io.File(tmp, s"graft_${prefix}_${key}_p${ProcessHandle.current().pid()}")
    // Sweep criterion: STALE mtime AND DEAD owner. mtime
    // alone was unsound — a dir's mtime only changes when its direct
    // children change, so a live process that built its store >3 h ago
    // and is still lazily READING it (without re-invoking scratchDir)
    // would lose the store mid-query. The owning pid is embedded in
    // the dir name precisely so liveness is checkable: a dir whose
    // owner is still alive is NEVER swept, however old; the 3 h mtime
    // cutoff then only guards against pid reuse after a reboot. Key
    // mismatch alone must never delete either — a
    // different key may be a live process on a different sf dir.
    val cutoff = System.currentTimeMillis() - 3L * 3600 * 1000
    def ownerAlive(name: String): Boolean =
      "_p(\\d+)$".r.findFirstMatchIn(name) match {
        case Some(m) => scala.util.Try {
          val oh = ProcessHandle.of(m.group(1).toLong)
          oh.isPresent && oh.get.isAlive
        }.getOrElse(false)
        case None => false // unparseable owner: age alone decides
      }
    Option(tmp.listFiles).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(s"graft_${prefix}_") && f.getName != dir.getName)
      .filter(f => f.lastModified < cutoff && !ownerAlive(f.getName))
      .foreach(FileUtils.deleteQuietly)
    if (dir.exists) dir.setLastModified(System.currentTimeMillis()): Unit
    dir.toString
  }
}
