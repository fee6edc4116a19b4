package graft.etl

import org.apache.spark.sql.SparkSession
import graft.sinks.PgCopySink
import graft.sources.ParquetSource

/** Object-key → readable URI resolution (reference: src/s3_download.rs).
  *
  * The reference downloads each S3 object to a local scratch dir and
  * deletes it after load; on Spark the object store IS the filesystem
  * (hadoop-aws s3a, or any Hadoop FS), so "download batch then read"
  * collapses into one multi-path splittable scan with no local copies.
  * Bucket resolution: a scheme-qualified bucket (`s3a://b`, or any
  * registered Hadoop FS scheme — the mocks3 spec rides this) is used
  * verbatim as the URI base; a bucket that names an existing local
  * directory maps to plain paths (used by tests and the reference's
  * localstack fixtures); anything else becomes `s3a://bucket/key`.
  */
object ObjectStore {
  def resolve(bucket: String, key: String): String =
    if (bucket.contains("://")) s"${bucket.stripSuffix("/")}/$key"
    else if (new java.io.File(bucket).isDirectory) s"$bucket/$key"
    else s"s3a://$bucket/$key"
}

/** The reference's end-to-end run loop (reference: src/runner.rs:48-113)
  * re-expressed Spark-first:
  *
  *   next_batch → one multi-path parquet scan → project desired_fields
  *   → (optional) target-type casts → validated table append →
  *   mark each item completed.
  *
  * Differences by design, for 100 TB:
  *  - per-BATCH scan instead of per-file serial row loop: Spark splits
  *    and parallelizes across executors; restart granularity stays the
  *    work-list batch.
  *  - no local download/delete lifecycle — the scan streams from the
  *    store directly.
  */
object Pipeline {

  def run(spark: SparkSession, cfg: GraftConfig,
      casts: Map[String, String] = Map.empty): Long = {
    val wl = new WorkLists(cfg.workLists.dir, cfg.s3.downloadBatchSize)
    val aliases = cfg.parquetToDb.getOrElse(Map.empty)
    var total = 0L
    var batch = wl.nextBatch()
    while (batch.nonEmpty) {
      val paths = batch.map(ObjectStore.resolve(cfg.s3.bucket, _))
      val df = ParquetSource.readBatch(spark, paths)
      val sel = ParquetSource.selectFields(df, cfg.parquet.desiredFields)
      val cast = if (casts.isEmpty) sel else TypeMapping.castTo(sel, casts)
      // positional originals: duplicate desired_fields are projection-
      // legal (reference parquet_ops.rs) and must resolve aliases by
      // the user's field names, not the deduplicated column labels
      total += PgCopySink.write(cast, cfg.db.connStr, cfg.db.tableName, aliases,
        sourceFields = Some(cfg.parquet.desiredFields))
      batch.foreach(wl.markCompleted)
      batch = wl.nextBatch()
    }
    total
  }
}
