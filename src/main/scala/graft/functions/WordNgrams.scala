package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `word_ngrams(text, n)` — ALL word n-grams of a document (one entry
  * per window position, NOT deduplicated), each the n tokens joined by a
  * single space, in document order. A doc with fewer than n words yields
  * an EMPTY array — the occurrence-counting semantics of
  * [[graft.ext.TextStats.collocations]]'s bigram stage (contrast
  * [[ShingleHash]], which clamps short docs to one whole-text shingle
  * because the SET semantics of Jaccard want every doc represented).
  *
  * Same byte-range trick as [[ShingleHash]]: `split(text, " ")` tokens
  * rejoined with `" "` reconstruct the input verbatim, so each n-gram is
  * a byte slice of the original string, copied out once — no interpreted
  * transform/slice/concat_ws chain, no per-window struct. The strings
  * themselves must exist here (they are downstream groupBy keys), so
  * this is one allocation per window, the floor for a string-keyed
  * aggregation.
  */
case class WordNgrams(child: Expression, n: Int) extends StringKernel {

  require(n >= 1, s"word_ngrams needs n >= 1, got $n")

  def fnName: String = "word_ngrams"

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def compute(s: UTF8String): Any = {
    val m = Tokens.count(s)
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val starts = Tokens.starts(s, m)
    val out = new Array[Any](m - n + 1)
    var w = 0
    while (w < out.length) {
      out(w) = Tokens.slice(s, starts(w), Tokens.end(starts, w + n - 1, s.numBytes()))
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}
