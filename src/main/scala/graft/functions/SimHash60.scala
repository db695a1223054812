package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `simhash60(hashes)` — 60-bit SimHash of an array of 60-bit feature
  * hashes: bit j of the result is set iff the majority of feature hashes
  * have bit j set (strict majority — ties clear the bit, matching the
  * `sum(±1) > 0` formulation the DuckDB oracle uses).
  *
  * Replaces a 60-way interpreted `aggregate` lambda chain per row with
  * one generated O(60·n) Java loop. The feature hashes themselves stay
  * md5-based (built-in, codegen) for cross-engine parity.
  *
  * Null semantics mirror the HOF chain: null array or null element => NULL.
  */
case class SimHash60(child: Expression) extends UnaryExpression {

  // a null element yields null, so the result is nullable even when
  // the input array is not
  override def nullable: Boolean = true

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash60 expects array<bigint>, got ${other.simpleString}")
  }

  override def nullSafeEval(av: Any): Any = {
    val a = av.asInstanceOf[ArrayData]
    val n = a.numElements()
    val ones = new Array[Int](60)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val h = a.getLong(i)
      var j = 0
      while (j < 60) { ones(j) += ((h >>> j) & 1L).toInt; j += 1 }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < 60) { if (2L * ones(j) > n) sim |= (1L << j); j += 1 }
    sim
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val ones = ctx.freshName("ones")
      val sim = ctx.freshName("sim")
      s"""
         |final int $n = $a.numElements();
         |final int[] $ones = new int[60];
         |for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  final long $h = $a.getLong($i);
         |  for (int $j = 0; $j < 60; $j++) $ones[$j] += (int) (($h >>> $j) & 1L);
         |}
         |if (!${ev.isNull}) {
         |  long $sim = 0L;
         |  for (int $j = 0; $j < 60; $j++) {
         |    if (2L * $ones[$j] > $n) $sim |= (1L << $j);
         |  }
         |  ${ev.value} = $sim;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}
