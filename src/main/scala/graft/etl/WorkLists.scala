package graft.etl

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Restartable file-based work lists with the reference's exact
  * semantics (reference: src/work_lists.rs:48-200):
  *
  *  - `todo`: remaining items, one per line; blank lines and `#`
  *    comments are skipped.
  *  - `wip`: the batch currently in flight. On construction an existing
  *    `wip` is loaded in full (regardless of batch size) and must be
  *    drained before `todo` is touched again.
  *  - `completed`: append-only log, written BEFORE the wip rewrite
  *    (the reference's explicit ordering, work_lists.rs:88 — "we want
  *    to know it was done even if remaining steps fail"). A crash
  *    between the two leaves the item in BOTH files: restart re-runs
  *    it (at-least-once — the duplicate is visible in the completed
  *    log), which is the safe failure mode; the reverse order would
  *    let a processed item vanish from the audit trail entirely.
  *  - `nextBatch()` with a non-empty in-memory wip verifies the file
  *    still matches (detecting concurrent mutation) and errors if not.
  *
  * This is deliberately driver-side, tiny-file state: at 100 TB the
  * unit of work is a file/partition listing, and restartability comes
  * from this checkpoint rather than re-scanning the object store.
  */
final class WorkLists(val workListsDir: String, val batchSize: Int) {
  require(batchSize > 0, "batch size must be positive")

  val todoPath: Path = Paths.get(workListsDir, "todo")
  val wipPath: Path = Paths.get(workListsDir, "wip")
  val completedPath: Path = Paths.get(workListsDir, "completed")

  require(Files.isRegularFile(todoPath), s"no todo file at $todoPath")

  private var wip: Vector[String] = readList(wipPath)

  def wipList: Vector[String] = wip

  private def readList(p: Path): Vector[String] =
    if (!Files.isRegularFile(p)) Vector.empty
    else Files.readAllLines(p).asScala.iterator
      .filter(l => l.trim.nonEmpty && !l.trim.startsWith("#"))
      .toVector

  /** Replaces `p` whole: the items go to a temp file in the same dir,
    * which is then renamed over `p`, so a crash leaves either the old
    * list or the new one, never a truncated file. */
  private def writeList(p: Path, items: Seq[String]): Unit = {
    val tmp = Files.createTempFile(p.getParent, s".${p.getFileName}", ".tmp")
    try {
      Files.write(tmp, items.map(_ + "\n").mkString.getBytes("UTF-8"))
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  /** Remove from wip, append to completed (first), rewrite wip. */
  def markCompleted(item: String): Unit = {
    wip = wip.filterNot(_ == item)
    Files.write(completedPath, (item + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND,
      StandardOpenOption.WRITE)
    writeList(wipPath, wip)
  }

  /** Returns the batch to process next: the outstanding wip if any
    * (after consistency check), else up to batchSize items moved from
    * todo to wip. Empty result = all work done. */
  def nextBatch(): Vector[String] = {
    if (wip.nonEmpty) {
      val fromFile = readList(wipPath)
      if (fromFile != wip)
        throw new IllegalStateException(
          s"wip file $wipPath inconsistent with in-memory list: file=$fromFile mem=$wip")
      return wip
    }
    val todo = readList(todoPath)
    val (batch, rest) = todo.splitAt(batchSize)
    writeList(wipPath, batch)
    writeList(todoPath, rest)
    wip = batch
    batch
  }
}
