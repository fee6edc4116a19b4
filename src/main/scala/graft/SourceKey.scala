package graft

/** Content fingerprint of a parquet source table — the ONE definition
  * behind every scratch-store / shared-pin cache key. It walks nested
  * and partitioned layouts, so a regeneration that moves a part file
  * between subdirectories moves the key and cannot serve stale cached
  * rows.
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
}
