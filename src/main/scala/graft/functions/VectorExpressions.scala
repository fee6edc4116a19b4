package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Tight-loop dot product over array columns. Semantically identical to
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0.0, +)` —
  * same left-to-right IEEE adds, so bit-equal to the DuckDB
  * `list_reduce` oracle — but without per-row array allocation, and
  * codegen'd. On the 2M-pair dedup_embedding plan this is the
  * difference between 42 s and single digits at sf0.1.
  */
object VectorUtil {
  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getDouble(i)
      i += 1
    }
    acc
  }

  def dotDD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }
}

/** Tight-loop squared L2 distance over FLOAT array columns (r13
  * optimization). Semantically identical to the composed form it
  * replaces — `dot_product(zip_with(a, b, (x,y) -> x - y), same)`:
  * per element a FLOAT subtraction, then the double square
  * accumulated left-to-right (the d2Of oracle fragment's exact IEEE
  * op sequence) — but in one codegen'd loop with no per-row diff
  * array allocation and no interpreted higher-order function. The
  * kmeans/PQ assignment stages evaluate this once per (row ×
  * centroid); the interpreted zip_with was the dominant CPU term
  * there (task_ms 21 s for a 2.2 s wall on dedup_semantic_banded).
  */
object SqDiffUtil {
  def sqFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val f = a.getFloat(i) - b.getFloat(i) // FLOAT subtract, as zip_with did
      acc += f.toDouble * f.toDouble
      i += 1
    }
    acc
  }
}

case class SqDiff(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_diff"

  // checked at ANALYSIS time, not construction: children (lambda
  // variables, literals under HOFs) may be unresolved when the
  // expression tree is first built
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sq_diff expects array<float> children, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  // ragged inputs yield NULL — the same contract as DotProduct (and
  // the zip_with form, whose null-padded tail poisons the sum)
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else SqDiffUtil.sqFF(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.SqDiffUtil.sqFF($a, $b);
         |}""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDiff =
    copy(left = newLeft, right = newRight)
}

case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  private def elem(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case t => throw new IllegalArgumentException(
      s"dot_product expects array children, got ${t.simpleString}")
  }

  private lazy val method: String = (elem(left), elem(right)) match {
    case (FloatType, FloatType)   => "dotFF"
    case (FloatType, DoubleType)  => "dotFD"
    case (DoubleType, DoubleType) => "dotDD"
    case (l, r) => throw new IllegalArgumentException(
      s"dot_product unsupported element types ($l, $r)")
  }

  // ragged inputs yield NULL, matching the declarative
  // aggregate(zip_with(...)) form this expression replaces (zip_with
  // null-pads the shorter side, so its products go NULL) — a silently
  // truncated dot product would rank a corrupt row with a plausible
  // wrong score (review r11)
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else method match {
      case "dotFF" => VectorUtil.dotFF(x, y)
      case "dotFD" => VectorUtil.dotFD(x, y)
      case "dotDD" => VectorUtil.dotDD(x, y)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VectorUtil.$method($a, $b);
         |}""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Plane generation + the banded-signature kernel behind
  * [[HyperplaneSigs]]. The plane matrix is a pure function of
  * (bits, bands, dim) — deterministic splitmix64-derived components —
  * and is cached per geometry so each TASK reuses one primitive
  * double[][] instead of unboxing a literal Seq[Seq[Double]] per row
  * (the interpreted-HOF shape this expression replaces unboxed
  * bands×bits×dim java.lang.Doubles per row, twice per self-join). */
object HyperplaneSigsUtil {
  /** splitmix64 finalizer — full avalanche, so plane components are
    * independent across BOTH p and j (moved verbatim from
    * operators.Dedup — one definition; Dedup.mixedPlane delegates). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def mixedPlane(p: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      ((mix64(p.toLong * dim + j) >>> 11).toDouble / (1L << 53)) * 2.0 - 1.0
    }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()

  def planes(bits: Int, bands: Int, dim: Int): Array[Array[Double]] =
    cache.computeIfAbsent((bits, bands, dim),
      _ => Array.tabulate(bands * bits)(p => mixedPlane(p, dim)))

  /** All band signatures of one FLOAT embedding in one primitive pass:
    * band b's bit i set iff dot(embedding, plane(b·bits+i)) ≥ 0. The
    * dot is the dotFD fold (float→double promote, left-to-right adds)
    * over min(len, dim) elements — the exact IEEE sequence of the
    * transform(typedLit(planes), p => dot_product(emb, p)) +
    * when(proj ≥ 0, 1<<i) chain it replaces, so signatures (hence
    * candidates, hence results) are bit-identical. */
  def sigs(emb: ArrayData, bits: Int, bands: Int, dim: Int): ArrayData = {
    // Malformed-row contract (advice r13): the replaced HOF chain maps
    // a ragged or null embedding to sig 0 in EVERY band — dot_product's
    // ragged->NULL makes each projection NULL, and when(NULL >= 0,
    // bit).otherwise(0) folds to 0 — so the kernel must too, not
    // silently truncate to min(len, dim) (which would hash a corrupt
    // row into a data-dependent bucket the old path never produced).
    if (emb == null || emb.numElements() != dim)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Int](bands))
    val ps = planes(bits, bands, dim)
    val out = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var sig = 0
      var i = 0
      while (i < bits) {
        val p = ps(b * bits + i)
        var acc = 0.0
        var j = 0
        while (j < dim) {
          acc += emb.getFloat(j).toDouble * p(j)
          j += 1
        }
        if (acc >= 0) sig |= (1 << i)
        i += 1
      }
      out(b) = sig
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Banded random-hyperplane signatures of a FLOAT embedding column in
  * one codegen'd kernel (r13 optimization): array<int> of `bands`
  * signatures, each the `bits`-bit sign pattern against the
  * deterministic [[HyperplaneSigsUtil.mixedPlane]] planes. Replaces
  * the interpreted transform/element_at/when chain that dominated the
  * banded-dedup task time (56 s of task CPU on dedup_semantic_banded's
  * 8000-row corpus — evaluated per element of a 576-plane literal,
  * on BOTH sides of the candidate self-join). */
case class HyperplaneSigs(child: Expression, bits: Int, bands: Int, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "hyperplane_sigs"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hyperplane_sigs expects an array<float> child, got ${t.simpleString}")
    }

  // the replaced HOF chain never emitted NULL: a null embedding's
  // projections all go NULL and the when/otherwise fold gives sig 0
  // per band (advice r13 — same contract as the ragged case, both
  // handled inside the kernel)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val e = child.eval(input)
    HyperplaneSigsUtil.sigs(
      if (e == null) null else e.asInstanceOf[ArrayData], bits, bands, dim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .javaType(dataType)} ${ev.value} =
        graft.functions.HyperplaneSigsUtil.sigs(
          ${c.isNull} ? null : ${c.value}, $bits, $bands, $dim);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigs =
    copy(child = newChild)
}

/** Nearest-centroid kernel behind [[CentroidArgmin]] (r14
  * optimization). One primitive pass over a [k][dim] float matrix,
  * mirroring EXACTLY the expression chain it replaces:
  *
  *   d2s  = transform(1..k, i -> sq_diff(emb, element_at(centsLit, i)))
  *   c    = element_at(idsLit, array_position(d2s, array_min(d2s)))
  *   cd2  = array_min(d2s)
  *
  * Per centroid: [[SqDiff]]'s contract (ragged length -> NULL, else
  * the float-subtract / double-square / left-to-right-add fold).
  * array_min skips NULLs and orders by SQLOrderingUtil.compareDoubles
  * (NaN largest, -0.0 == 0.0); array_position returns the FIRST index
  * attaining the min under the same ordering — reproduced below by
  * updating the running (min, idx) only on strictly-less compares.
  * All-NULL d2s (null or ragged embedding): array_min is NULL and
  * array_position(d2s, NULL) — measured on Spark 4.1, pinned by the
  * ScaleJoinsSpec edge rows — matches the FIRST null element, i.e.
  * returns 1, so the chain emits (ids(0), NULL). Reproduced below. */
object CentroidArgminUtil {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

  def eval(emb: ArrayData, cents: Array[Array[Float]],
      ids: Array[Int]): InternalRow = {
    var bestIdx = -1
    var best = 0.0
    if (emb != null) {
      val n = emb.numElements()
      var i = 0
      while (i < cents.length) {
        val c = cents(i)
        if (c.length == n) { // ragged -> NULL d2: skipped, as array_min does
          var acc = 0.0
          var j = 0
          while (j < n) {
            val f = emb.getFloat(j) - c(j) // FLOAT subtract (SqDiff)
            acc += f.toDouble * f.toDouble
            j += 1
          }
          if (bestIdx < 0 || SQLOrderingUtil.compareDoubles(acc, best) < 0) {
            best = acc
            bestIdx = i
          }
        }
        i += 1
      }
    }
    if (bestIdx < 0)
      new GenericInternalRow(Array[Any](
        if (ids.length > 0) ids(0) else null, null))
    else new GenericInternalRow(Array[Any](ids(bestIdx), best))
  }
}

/** Codegen'd nearest-centroid assignment over a driver-literal
  * centroid table: struct(c INT, cd2 DOUBLE) per embedding row —
  * the k-means assignment projection in one tight loop instead of an
  * interpreted `transform` lambda that re-evaluated sq_diff through
  * the HOF eval path and unboxed the k×dim literal per row (the same
  * disease [[HyperplaneSigs]] cured for the banded signatures; the
  * assignment pass was the largest residual of dedup_semantic_banded,
  * 1.9 s of 3.6, OPTIMIZATION_r14.md). Result fields are null iff the
  * HOF chain's were (null/ragged embedding). */
case class CentroidArgmin(child: Expression,
    ids: Seq[Int], cents: Seq[Seq[Float]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.{DoubleType => DT, IntegerType, StructField, StructType}

  require(ids.length == cents.length,
    s"centroid_argmin: ${ids.length} ids vs ${cents.length} centroids")

  override def dataType: DataType = StructType(Seq(
    StructField("c", IntegerType, nullable = true),
    StructField("cd2", DT, nullable = true)))
  // the struct itself is always present — its FIELDS go null on a
  // null/ragged embedding, exactly like the HOF chain's outputs
  override def nullable: Boolean = false
  override def prettyName: String = "centroid_argmin"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"centroid_argmin expects an array<float> child, got ${t.simpleString}")
    }

  @transient private lazy val centsArr: Array[Array[Float]] =
    cents.map(_.toArray).toArray
  @transient private lazy val idsArr: Array[Int] = ids.toArray

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val e = child.eval(input)
    CentroidArgminUtil.eval(
      if (e == null) null else e.asInstanceOf[ArrayData], centsArr, idsArr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val centsRef = ctx.addReferenceObj("cents", centsArr, "float[][]")
    val idsRef = ctx.addReferenceObj("ids", idsArr, "int[]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} = graft.functions.CentroidArgminUtil.eval(
        ${c.isNull} ? null : ${c.value}, $centsRef, $idsRef);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidArgmin =
    copy(child = newChild)
}

object VectorExpressions {
  def dot(a: Column, b: Column): Column =
    shim.toColumn(DotProduct(shim.toExpression(a), shim.toExpression(b)))

  def sqDiff(a: Column, b: Column): Column =
    shim.toColumn(SqDiff(shim.toExpression(a), shim.toExpression(b)))

  def hyperplaneSigs(a: Column, bits: Int, bands: Int, dim: Int): Column =
    shim.toColumn(HyperplaneSigs(shim.toExpression(a), bits, bands, dim))

  def centroidArgmin(a: Column, ids: Seq[Int],
      cents: Seq[Seq[Float]]): Column =
    shim.toColumn(CentroidArgmin(shim.toExpression(a), ids, cents))
}
