package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared 64-bit FNV-1a — referenced from both interpreted eval and the
  * generated code, so there is exactly one definition of the hash. */
object HashUtil {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime  = 0x100000001b3L

  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  def simhash64(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = fnv1a64(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** `fnv64(string) -> long` — native Catalyst expression with codegen
  * (stays inside WholeStageCodegen; no UDF serialization). Used as the
  * token-hash primitive for SimHash and as a cheap content fingerprint.
  *
  * (The reference has no hashing surface; this supports the dedup layer
  * mandated beyond it — SURVEY.md §2.3.)
  */
case class Fnv64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "fnv64"

  override protected def nullSafeEval(input: Any): Any =
    HashUtil.fnv1a64(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashUtil.fnv1a64($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Fnv64 =
    copy(child = newChild)
}

/** `simhash64(array<string>) -> long` — 64-bit SimHash of a token
  * array: per-token FNV-1a, signed bit-count vote per bit position.
  * Codegen delegates to the shared routine (one virtual call per row —
  * the token loop dominates).
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    HashUtil.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashUtil.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object HashFunctions {
  def fnv64(c: Column): Column = shim.toColumn(Fnv64(shim.toExpression(c)))
  def simhash64(c: Column): Column = shim.toColumn(SimHash64(shim.toExpression(c)))
}
