package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `cms_est(term)` — Count-Min point estimate of a term's stream count
  * against a plan-time sketch ([[graft.ext.CountMin.Evaluator]] is
  * constructor state, like [[BpeEncode]]'s merges table: a sketch is a
  * small bounded summary MEANT to be shipped into the plan).
  *
  * This is the native replacement for the typed UDF the heavy-hitter
  * candidate filter first used: same JVM md5 + KM-mix code path as the
  * sketch-building aggregator (writer/reader agreement stays
  * structural), but evaluated directly on the UTF8String's bytes — no
  * ScalaUDF row conversion, no String allocation — and codegen calls
  * the typed [[est]] (the [[StringKernel]] shape, unboxed), keeping the
  * filter inside the whole-stage-codegen span.
  */
case class CmsEst(child: Expression, eval: graft.ext.CountMin.Evaluator)
    extends StringKernel {

  override def dataType: DataType = LongType

  def fnName: String = "cms_est"

  def compute(s: UTF8String): Any = est(s)

  def est(s: UTF8String): Long = eval.est(s)

  override protected def javaCall(ref: String, text: String): String =
    s"$ref.est($text)"

  override protected def withNewChildInternal(newChild: Expression): CmsEst =
    copy(child = newChild)
}
