package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `ngram_counts(text, n)` — per-document word-n-gram OCCURRENCE counts
  * in ONE byte scan: `array<struct<term string, cnt int>>` where `term`
  * is the n tokens joined by a single space, value-equivalent to
  * exploding [[WordNgrams]] and grouping — but without materializing one
  * string per window position, and without the corpus-wide exchange an
  * `explode -> groupBy(doc_id, b)` formulation forces (Spark cannot know
  * doc rows never span partitions). A doc with fewer than n tokens
  * yields an EMPTY array (the occurrence semantics — contrast
  * [[ShingleHash]]'s whole-text clamp for SET semantics).
  *
  * `word_counts(text)` is this kernel at n = 1: per-document term
  * frequencies, value-equivalent to
  * {{{ SELECT term, count(*) FROM unnest(split(text, ' ')) GROUP BY term }}}
  * in first-occurrence order. It is the map-side half of every corpus
  * term statistic: the tf table materializes shuffle-free, and document
  * frequency and corpus unigram counts start from one row per distinct
  * term per doc instead of one row per token.
  *
  * This is the map-side half of the n-gram language model
  * ([[graft.ext.LmScore]]): per-doc n-gram counts need no
  * cross-partition data, so both training (corpus counts = one shuffle
  * over the per-doc rows) and scoring (join per-doc rows to the model)
  * start from one row per distinct n-gram per doc instead of one row per
  * window position of the corpus.
  *
  * Mechanics: the [[Tokens]] scan (empty tokens from separator runs are
  * tokens); each window is a CONTIGUOUS byte slice of the original
  * string, counted in the [[Terms]] table; each distinct n-gram's bytes
  * are copied out once, in first-occurrence order. Null text => NULL
  * array. `fnName` is the SQL name the kernel was registered under, so
  * a type error names `word_counts` or `ngram_counts` as called.
  */
case class NgramCounts(child: Expression, n: Int, fnName: String = "ngram_counts")
    extends StringKernel {

  require(n >= 1, s"$fnName needs n >= 1, got $n")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("cnt", IntegerType, nullable = false))),
    containsNull = false)

  def compute(s: UTF8String): Any = {
    val nb = s.numBytes()
    val m = Tokens.count(s)
    val wins = m - n + 1
    if (wins <= 0) return new GenericArrayData(new Array[Any](0))
    val starts = Tokens.starts(s, m)
    val table = Terms.table(wins)
    val cnt = new Array[Int](table.length)
    val order = new Array[Int](wins)
    var nUniq = 0
    var w = 0
    while (w < wins) {
      val slot = Terms.add(s, table, starts(w), Tokens.end(starts, w + n - 1, nb))
      if (slot >= 0) cnt(slot) += 1
      else { cnt(~slot) = 1; order(nUniq) = ~slot; nUniq += 1 }
      w += 1
    }
    val out = new Array[Any](nUniq)
    var j = 0
    while (j < nUniq) {
      val p = table(order(j))
      out(j) = new GenericInternalRow(Array[Any](
        Tokens.slice(s, Terms.start(p), Terms.start(p) + Terms.len(p)), cnt(order(j))))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): NgramCounts =
    copy(child = newChild)
}
