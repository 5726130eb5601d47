package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** `h * a + b` on longs with WRAPPING (mod 2^64) semantics.
  *
  * The minhash "one hash, k permutations" scheme needs k bijections of
  * hash space; multiply-add with odd `a` is the textbook family, but
  * Spark 4's ANSI mode makes `Column * Column` throw on long overflow —
  * and overflow is exactly the point here (mod-2^64 arithmetic). This
  * expression is plain Java `*`/`+` (wrapping, deterministic on every
  * JVM), stays inside whole-stage codegen, and costs two ALU ops.
  */
case class MixHash64(child: Expression, a: Long, b: Long) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"mix_hash64 requires a bigint input, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType

  override def nullSafeEval(h: Any): Any = h.asInstanceOf[Long] * a + b

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, h => s"$h * ${a}L + ${b}L")

  override protected def withNewChildInternal(c: Expression): MixHash64 =
    copy(child = c)
}

object MixHash64 {
  /** splitmix64 finalizer — source of deterministic per-slot constants. */
  def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Multiplier for permutation slot i (odd → bijective mod 2^64). */
  def mulConst(i: Int): Long = splitmix64(2L * i + 1) | 1L

  /** Addend for permutation slot i. */
  def addConst(i: Int): Long = splitmix64(2L * i + 2)
}
