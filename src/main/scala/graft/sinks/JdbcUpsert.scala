package graft.sinks

import java.sql.DriverManager
import org.apache.spark.sql.DataFrame

/** Set-based JDBC upsert: stage the batch with the parallel table sink
  * ([[PgCopySink]]), then ONE `MERGE` from staging into the target — the
  * production CDC-apply pattern (idempotent per batch, no per-row
  * round trips; executors never hold write locks on the target, only
  * the single MERGE statement does).
  *
  * The reference loads append-only (db.rs COPY); this is the upsert
  * counterpart a change-feed consumer needs on the same warehouse.
  */
object JdbcUpsert {

  /** Apply `batch` (one row per key — pre-reduce upstream) to `target`
    * via `staging`. Both tables must exist with identical schemas; the
    * first column sequence given in `cols` must start with `key`.
    * When `orderCols` is set, a matched row is updated only if the
    * incoming row is lexicographically >= the stored one on those
    * columns — a late-replayed batch of OLDER changes then cannot
    * clobber newer state, and an order tie-break column (e.g. a change
    * sequence id alongside the timestamp) keeps the final state
    * independent of how the replay was batched. */
  def upsertBatch(batch: DataFrame, url: String, target: String,
      staging: String, key: String, cols: Seq[String],
      orderCols: Seq[String] = Seq.empty): Unit = {
    require(cols.headOption.contains(key),
      s"cols must lead with the merge key '$key', got $cols")
    // ONE materialization for both the null audit and the staged write:
    // unpersisted, a multi-join CDC batch would execute its whole
    // upstream twice per trigger
    batch.persist()
    try {
      // a NULL in any order column makes the MATCHED guard UNKNOWN and
      // the incoming change would be silently DROPPED, not applied —
      // reject such batches up front rather than lose rows
      if (orderCols.nonEmpty) {
        import org.apache.spark.sql.functions.col
        val nullCnt = batch
          .filter(orderCols.map(c => col(c).isNull).reduce(_ || _)).count()
        require(nullCnt == 0,
          s"$nullCnt staged row(s) carry NULL in order columns $orderCols — " +
            "the MERGE order guard cannot compare NULLs")
      }
      val conn = DriverManager.getConnection(url)
      try {
        conn.createStatement().execute(s"DELETE FROM $staging")
      } finally conn.close()
      PgCopySink.write(batch, url, staging)
    } finally { batch.unpersist(); () }
    val sets = cols.filterNot(_ == key)
      .map(c => s"t.$c = s.$c").mkString(", ")
    // lexicographic (c1, c2, ...) >= comparison expanded to SQL. A
    // TARGET row carrying NULL in an order column (inserted by an
    // unguarded path — the batch side is validated above, the table
    // side cannot be) must not make the guard UNKNOWN and silently
    // drop the update — but "NULL anywhere ⇒ overwrite" is too eager:
    // a target with a NEWER leading column and a NULL in a lower-
    // significance one would be clobbered by an older change. NULL
    // loses WITHIN the lexicographic walk instead: branch i treats
    // t.ci IS NULL as a win only after s.cj = t.cj held for all j < i
    // (a NULL at a column the comparison never reaches is irrelevant;
    // a NULL at the decisive column means "no version info from here
    // on" and the incoming change wins).
    val guard =
      if (orderCols.isEmpty) ""
      else " AND (" +
        orderCols.indices.map { i =>
          val eqs = orderCols.take(i).map(c => s"s.$c = t.$c")
          val ci = orderCols(i)
          val last =
            if (i == orderCols.length - 1)
              s"(t.$ci IS NULL OR s.$ci >= t.$ci)"
            else s"(t.$ci IS NULL OR s.$ci > t.$ci)"
          (eqs :+ last).mkString("(", " AND ", ")")
        }.mkString(" OR ") + ")"
    val insertCols = cols.mkString(", ")
    val insertVals = cols.map(c => s"s.$c").mkString(", ")
    val conn2 = DriverManager.getConnection(url)
    try {
      conn2.createStatement().execute(
        s"""MERGE INTO $target t USING $staging s ON t.$key = s.$key
           |WHEN MATCHED$guard THEN UPDATE SET $sets
           |WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)""".stripMargin)
    } finally conn2.close()
  }
}
