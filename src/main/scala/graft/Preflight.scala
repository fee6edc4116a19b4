package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Testdata schema preflight: asserts, in ONE place, every assumption
  * the table readers encode about the driver-generated parquet — so a
  * testdata regeneration that drifts a column fails loudly with the
  * drifted column's name, instead of as dozens of scattered
  * DATATYPE_MISMATCH crashes deep inside individual queries (which is
  * exactly what the round-5 events.ts ns→µs regeneration caused).
  *
  * Run by Verify and Bench before any query executes.
  */
object Preflight {
  private type ColCheck = (String, DataType => Boolean, String)

  private def integral(dt: DataType): Boolean =
    dt == IntegerType || dt == LongType || dt == ShortType
  private def fractional(dt: DataType): Boolean =
    dt == DoubleType || dt == FloatType || dt.isInstanceOf[DecimalType]
  private def timestampLike(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType || dt == DateType
  /** The three storage forms Tables.adaptEventTs can normalise. */
  private def adaptableEventTs(dt: DataType): Boolean =
    dt == LongType || dt == TimestampNTZType || dt == TimestampType
  private def floatArray(dt: DataType): Boolean = dt match {
    case ArrayType(et, _) => et == FloatType || et == DoubleType
    case _                => false
  }

  /** table -> required columns with their acceptable type families.
    * Families, not exact types: the readers tolerate e.g. int32/int64
    * drift on keys, but NOT a type the adaptive paths can't normalise. */
  private[graft] val expectations: Map[String, Seq[ColCheck]] = Map(
    "region" -> Seq(
      ("r_regionkey", integral, "integral"),
      ("r_name", _ == StringType, "string")),
    "nation" -> Seq(
      ("n_nationkey", integral, "integral"),
      ("n_name", _ == StringType, "string"),
      ("n_regionkey", integral, "integral")),
    "customer" -> Seq(
      ("c_custkey", integral, "integral"),
      ("c_name", _ == StringType, "string"),
      ("c_nationkey", integral, "integral"),
      ("c_acctbal", fractional, "fractional"),
      ("c_mktsegment", _ == StringType, "string")),
    "supplier" -> Seq(
      ("s_suppkey", integral, "integral"),
      ("s_nationkey", integral, "integral"),
      ("s_acctbal", fractional, "fractional")),
    "part" -> Seq(
      ("p_partkey", integral, "integral"),
      ("p_brand", _ == StringType, "string"),
      ("p_type", _ == StringType, "string"),
      ("p_size", integral, "integral"),
      ("p_retailprice", fractional, "fractional")),
    "orders" -> Seq(
      ("o_orderkey", integral, "integral"),
      ("o_custkey", integral, "integral"),
      ("o_orderstatus", _ == StringType, "string"),
      ("o_totalprice", fractional, "fractional"),
      ("o_orderdate", timestampLike, "timestamp/date"),
      ("o_orderpriority", _ == StringType, "string")),
    "lineitem" -> Seq(
      ("l_orderkey", integral, "integral"),
      ("l_partkey", integral, "integral"),
      ("l_suppkey", integral, "integral"),
      ("l_linenumber", integral, "integral"),
      ("l_quantity", fractional, "fractional"),
      ("l_extendedprice", fractional, "fractional"),
      ("l_discount", fractional, "fractional"),
      ("l_tax", fractional, "fractional"),
      ("l_returnflag", _ == StringType, "string"),
      ("l_linestatus", _ == StringType, "string"),
      ("l_shipdate", timestampLike, "timestamp/date")),
    "events" -> Seq(
      ("event_id", integral, "integral"),
      ("ts", adaptableEventTs,
        "nanos-long | TIMESTAMP_NTZ | TIMESTAMP (Tables.adaptEventTs)"),
      ("user_id", integral, "integral"),
      ("event_type", _ == StringType, "string"),
      ("value", fractional, "fractional"),
      ("props", _ == StringType, "string (JSON)")),
    "documents" -> Seq(
      ("doc_id", integral, "integral"),
      ("text", _ == StringType, "string"),
      ("lang", _ == StringType, "string"),
      ("source", _ == StringType, "string"),
      // physically read by corpus_domain_cap / chunk_documents /
      // multimodal — a regeneration dropping or retyping it must fail
      // HERE, not deep inside those queries
      ("n_chars", integral, "integral")),
    "embeddings" -> Seq(
      ("vec_id", integral, "integral"),
      ("embedding", floatArray, "array<float|double>"),
      ("label", integral, "integral")))

  /** Epoch-magnitude floor separating nanosecond longs from anything
    * coarser: epoch-ns for any date after ~1970-04 exceeds 1e16, while
    * epoch-µs stays below ~4.2e15 until the year 2100 (ms/s are smaller
    * still). Tables.adaptEventTs divides LongType ts by 1000 assuming
    * NANOS; a regeneration storing µs/ms BIGINT would pass the type
    * check and silently produce timestamps 1000×+ too early — this
    * value check makes that drift loud. */
  private val MinPlausibleEpochNanos = 1e16

  /** All violations found under `dir`, each naming table.column, the
    * expected type family, and what the parquet actually stores. */
  def violations(spark: SparkSession, dir: String): Seq[String] = {
    // the nanos knob changes what the scan SURFACES for TIMESTAMP(NANOS)
    // columns (long) — preflight must see the same shape the readers do
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    expectations.toSeq.sortBy(_._1).flatMap { case (table, cols) =>
      // the frame the queries read: Tables.t's memoized schema, so
      // Tables.registerViews after this opens no table again
      val loaded =
        try Right(Tables.t(spark, dir, table))
        catch { case e: Throwable =>
          Left(s"$table: unreadable at $dir/$table.parquet (${e.getClass.getSimpleName})") }
      loaded match {
        case Left(err) => Seq(err)
        case Right(frame) =>
          val byName = frame.schema.fields.map(f => f.name -> f.dataType).toMap
          val typeViolations = cols.flatMap { case (col, ok, expected) =>
            byName.get(col) match {
              case None => Some(s"$table.$col: MISSING (expected $expected)")
              case Some(dt) if !ok(dt) =>
                Some(s"$table.$col: expected $expected, found ${dt.simpleString}")
              case _ => None
            }
          }
          // value-level check the type check can't express: a LongType
          // events.ts is only adaptable if the longs really are NANOS
          val magnitudeViolations =
            if (table == "events" && typeViolations.isEmpty &&
                byName.get("ts").contains(LongType)) {
              import org.apache.spark.sql.functions.{abs, col, max}
              Option(frame.agg(max(abs(col("ts"))))
                  .head.get(0)).map(_.asInstanceOf[Long]) match {
                case Some(mx) if mx < MinPlausibleEpochNanos => Seq(
                  s"events.ts: LongType but max |ts| = $mx < 1e16 — these are " +
                    "µs/ms/s longs, NOT the epoch-nanos Tables.adaptEventTs " +
                    "assumes (its ÷1000 would shift every timestamp 1000×+ early)")
                case _ => Nil
              }
            } else Nil
          typeViolations ++ magnitudeViolations
      }
    }
  }

  /** Throws with every violation (column-named) if the testdata under
    * `dir` drifted from the readers' assumptions. */
  def assertClean(spark: SparkSession, dir: String): Unit = {
    val v = violations(spark, dir)
    if (v.nonEmpty) throw new IllegalStateException(
      s"testdata schema drift under $dir — fix Tables.scala/the generator " +
        s"before trusting any query output:\n  ${v.mkString("\n  ")}")
  }
}
