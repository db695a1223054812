package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `bpe_encode(word)` — merges-table byte-pair encoding of one
  * pretokenized word into subword tokens (`array<string>`).
  *
  * The merges table is constructor state (fixed at plan time, like
  * [[MinHashSig]]'s seeds); the algorithm is the standard BPE encoder:
  * split to characters, then repeatedly find the LOWEST-RANK adjacent
  * token pair present in the table and merge every (non-overlapping,
  * left-to-right) occurrence of that one pair, until no adjacent pair is
  * in the table. [[graft.ext.BpeTable]] rejects rules with left == right,
  * which makes each merge pass conflict-free — the property that lets the
  * `q_bpe_tokens` oracle replay the loop as a parallel list rewrite.
  *
  * The loop is inherently imperative, so codegen emits one call into
  * the kernel (the [[StringKernel]] shape) rather than inlining it.
  */
case class BpeEncode(child: Expression, table: graft.ext.BpeTable)
    extends StringKernel {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def fnName: String = "bpe_encode"

  def compute(s: UTF8String): Any = table.encodeArrayData(s)

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

object BpeEncode {
  /** `new GenericArrayData` helper kept here so [[graft.ext.BpeTable]]
    * stays free of codegen imports. */
  def toArrayData(tokens: Array[String]): GenericArrayData =
    new GenericArrayData(tokens.map(t => UTF8String.fromString(t): Any))
}
