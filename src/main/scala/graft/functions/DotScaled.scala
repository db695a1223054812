package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `dot_scaled(a, b)` — the exact integer-scaled dot product of two
  * float/double arrays: sum_i floor(double(a_i) * double(b_i) * 1e15)
  * as LONG.
  *
  * This is the custom-Catalyst tier of SURVEY §7.3: the same semantics as
  * the higher-order-function formulation in [[graft.ext.Similarity]]
  * (zip_with + floor + aggregate), but HOF lambdas are interpreted per
  * element while this expression generates a tight Java loop inside
  * whole-stage codegen. Bit-identical results by construction — each
  * product is a deterministic IEEE double op, floor+cast matches the HOF
  * floor(double)->long, and integer accumulation is order-independent.
  * Double elements pass through the identity cast the HOF chain applies,
  * so the float and double paths share one value contract (r20: the
  * IVF-PQ residual tier ran the interpreted HOF on array<double> —
  * guide §4's non-codegen-in-hot-path case — and now resolves here).
  *
  * Null semantics mirror the HOF chain: null input array, null element,
  * or length mismatch (zip_with pads with null) => NULL.
  */
case class DotScaled(left: Expression, right: Expression)
    extends BinaryExpression {

  // malformed input (a null element, a length mismatch) yields null,
  // so the result is nullable even when the input array is not
  override def nullable: Boolean = true

  override def dataType: DataType = LongType

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_scaled expects float/double arrays, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  private def isDouble(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[ArrayData]
    val b = bv.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val aD = isDouble(left.dataType)
    val bD = isDouble(right.dataType)
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aD) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bD) b.getDouble(i) else b.getFloat(i).toDouble
      acc += math.floor(x * y * 1e15).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val getA = if (isDouble(left.dataType)) s"$a.getDouble($i)"
        else s"((double) $a.getFloat($i))"
      val getB = if (isDouble(right.dataType)) s"$b.getDouble($i)"
        else s"((double) $b.getFloat($i))"
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (long) Math.floor($getA * $getB * 1.0E15D);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotScaled =
    copy(left = newLeft, right = newRight)
}

/** `int_dot(a, b)` — the exact integer dot product of two long arrays:
  * sum_i (a_i * b_i) as LONG. The codegen form of the semantic-dedup
  * kernel `aggregate(zip_with(a, b, (x, y) => x * y), 0L, _ + _)`
  * ([[graft.ext.SemDedup.intDot]]): that HOF chain is interpreted per
  * element and sat on the hottest path in the engine — the
  * within-cluster pairwise verdict join evaluates it once per candidate
  * PAIR (guide §4: prefer codegen expressions in the hot path). Values
  * are identical by construction: integer multiply-accumulate in the
  * same order, and the int8-code domain (|v| <= 127, dims <= thousands)
  * keeps every product and the sum far inside Long, so the ANSI
  * overflow behavior of the HOF chain is unreachable.
  *
  * Null semantics mirror the HOF chain: null input array, null element,
  * or length mismatch (zip_with pads with null) => NULL.
  */
case class IntDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // malformed input (a null element, a length mismatch) yields null,
  // so the result is nullable even when the input array is not
  override def nullable: Boolean = true

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"int_dot expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[ArrayData]
    val b = bv.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDot =
    copy(left = newLeft, right = newRight)
}
