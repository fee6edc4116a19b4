package org.apache.spark.sql.execution.datasources.parquet

import java.io.IOException
import org.apache.hadoop.fs.Path
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet schema inference on the driver. With schema merging off,
  * `spark.read.parquet(files)` takes its schema from the footer of the
  * first data file in path order (`ParquetUtils.inferSchema`) but reads
  * that one footer inside a Spark job
  * (`ParquetFileFormat.mergeSchemasInParallel`). This reads the same
  * footer through the same converter settings without the job. It lives
  * in this package because `readParquetFootersInParallel` (Spark's
  * footer reader, with its `ignoreCorruptFiles` handling) is
  * `private[parquet]`. */
object graftParquetShim {

  /** The session settings inference reads: under equal settings, two
    * inferences over one unchanged footer give equal schemas. */
  final case class Settings(mergeSchema: Boolean, binaryAsString: Boolean,
      int96AsTimestamp: Boolean, inferTimestampNTZ: Boolean, nanosAsLong: Boolean,
      respectUnknownTypeAnnotation: Boolean)

  def settings(spark: SparkSession): Settings = {
    val conf = spark.sessionState.conf
    Settings(new ParquetOptions(Map.empty[String, String], conf).mergeSchema,
      conf.isParquetBinaryAsString, conf.isParquetINT96AsTimestamp,
      conf.parquetInferTimestampNTZEnabled, conf.legacyParquetNanosAsLong,
      conf.parquetReaderRespectUnknownTypeAnnotation)
  }

  /** The schema `spark.read.parquet(paths)` infers, or None where only
    * Spark's own inference gives the same answer (or the same error):
    * schema merging on, a glob, a directory, a missing path, a summary
    * or hidden file name, or an unreadable footer under
    * `ignoreCorruptFiles`. */
  def inferSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    val s = settings(spark)
    if (s.mergeSchema ||
        paths.exists(p => SparkHadoopUtil.get.isGlobPath(new Path(p)))) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val files =
      try paths.map { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(hadoopConf)
        (fs.makeQualified(path).toString, fs.getFileStatus(path))
      } catch { case _: IOException => return None }
    if (files.exists { case (_, st) =>
        val name = st.getPath.getName
        !st.isFile || name.startsWith("_") || name.startsWith(".")
      }) return None
    // the converter mergeSchemasInParallel builds: five settings from
    // the session, the other three at their defaults
    val converter = new ParquetToSparkSchemaConverter(
      s.binaryAsString,
      s.int96AsTimestamp,
      SQLConf.CASE_SENSITIVE.defaultValue.get,
      s.inferTimestampNTZ,
      s.nanosAsLong,
      SQLConf.PARQUET_FIELD_ID_READ_ENABLED.defaultValue.get,
      SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION.defaultValue.get,
      s.respectUnknownTypeAnnotation)
    val first = files.minBy(_._1)._2
    ParquetFileFormat.readParquetFootersInParallel(hadoopConf, Seq(first), conf.ignoreCorruptFiles)
      .headOption.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
  }
}
