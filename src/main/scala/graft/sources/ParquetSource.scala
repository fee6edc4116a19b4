package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.graftParquetShim
import org.apache.spark.sql.functions.col

/** Parquet ingestion with the reference's field-selection semantics
  * (reference: src/parquet_ops.rs:31-55): requested fields are resolved
  * against the file schema in request order, duplicates are allowed, a
  * missing field is an error naming the field. Re-expressed Spark-first:
  * the projection lands in the scan's ReadSchema, so only the desired
  * columns are ever decoded — the 100 TB analogue of the reference's
  * column-index lookup.
  */
object ParquetSource {

  /** One multi-path scan per batch (the reference downloads a batch of
    * files then iterates serially; Spark reads the whole batch as one
    * splittable scan — reference: src/runner.rs:86-108). The schema is
    * the one Spark would infer, read from the first file's footer on
    * the driver, so reading a batch launches no Spark job of its own. */
  def readBatch(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "empty batch")
    graftParquetShim.inferSchema(spark, paths).fold(spark.read)(s => spark.read.schema(s))
      .parquet(paths: _*)
  }

  /** Project `desiredFields` in order. Duplicate names get a positional
    * suffix so downstream sinks see unique columns (the reference keeps
    * duplicates positional — parquet_ops.rs test
    * `test_get_desired_cols_same_field_duplicated_is_fine`). */
  def selectFields(df: DataFrame, desiredFields: Seq[String]): DataFrame = {
    require(desiredFields.nonEmpty, "desired_fields must be non-empty")
    val available = df.columns.toSet
    val missing = desiredFields.filterNot(available.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Field(s) not found in parquet schema: ${missing.mkString(", ")}")
    val seen = scala.collection.mutable.Map.empty[String, Int]
    // output names already claimed: every requested field plus each
    // dedup alias as it is assigned — the suffix probe must skip BOTH,
    // or a schema containing a literal "a_1" collides with the alias
    // generated for a duplicated "a" (review r11)
    val taken = scala.collection.mutable.Set[String](desiredFields: _*)
    val cols: Seq[Column] = desiredFields.map { f =>
      val n = seen.getOrElse(f, 0)
      seen(f) = n + 1
      if (n == 0) col(f)
      else {
        var i = n
        while (taken.contains(s"${f}_$i")) i += 1
        taken += s"${f}_$i"
        col(f).as(s"${f}_$i")
      }
    }
    df.select(cols: _*)
  }
}

/** Schema pretty-printer with column indices, equivalent to the
  * reference's display_schema helper (reference: src/display_schema.rs).
  */
object SchemaDisplay {
  import org.apache.spark.sql.types._

  def render(schema: StructType): String = {
    val sb = new StringBuilder
    def walk(s: DataType, name: String, depth: Int, colNum: Int): Unit = {
      val indent = " " * (4 * depth)
      s match {
        case st: StructType =>
          sb.append(s"$indent$name is a group type\n")
          st.fields.zipWithIndex.foreach { case (f, i) =>
            walk(f.dataType, f.name, depth + 1, i)
          }
        case ArrayType(et, _) =>
          sb.append(s"$indent$colNum) $name : ARRAY\n")
          walk(et, s"$name.element", depth + 1, 0)
        case p =>
          sb.append(s"$indent$colNum) $name : ${p.sql}\n")
      }
    }
    walk(schema, "schema", 0, 0)
    sb.toString
  }
}
