package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `word_profile(text, spec, with_uniq)` — the whole per-document token
  * profile of the text-analysis tier in ONE byte scan:
  * `struct<n_tok int, n_uniq int, hits array<int>>` where
  *
  *  - `n_tok`  ≡ `size(split(text, ' '))` — single-space token count
  *    (= spaces + 1, empty tokens included, the DuckDB `string_split`
  *    contract the oracle SQL replays);
  *  - `n_uniq` ≡ `size(array_distinct(split(text, ' ')))`, or -1 when
  *    `with_uniq` is false (language ID doesn't pay for it);
  *  - `hits(g)` ≡ `countIn(split(text, ' '), group g)` — how many tokens
  *    equal any word of vocab group g. `spec` is `w1,w2|u1,u2,...`:
  *    groups separated by `|`, words by `,`;
  *  - `ws_runs` ≡ `token_runs(text, 'ws')` and `punct` ≡
  *    `token_runs(text, 'punct')` — the regex-token and punctuation
  *    counts of the quality-score terms, folded into the same pass
  *    (per-byte classification, no extra memory).
  *
  * Replaces the staged `split` + `array_distinct` + chained
  * `array_remove` formulation, which allocated the token array plus one
  * array copy per removed vocab word for every document — at 100 TB
  * that tier's dominant cost (the 100× curve's worst surviving row).
  * Token identity here is byte-range identity, which for UTF-8 equals
  * string equality; distinctness uses the [[Terms]] table of byte
  * ranges, so no token is ever materialized. Vocab words are pre-encoded to UTF-8 at
  * construction and compared length-first.
  *
  * Value-identity with the split-based forms is asserted by
  * WordProfileSpec on hostile inputs (empty docs, separator runs,
  * NBSP, surrogate pairs) and the fixture corpus; the oracle SQL keeps
  * replaying the split formulation. Null text => NULL struct, matching
  * `split`'s null propagation.
  */
case class WordProfile(child: Expression, spec: String, withUniq: Boolean)
    extends StringKernel {

  private val groups: Array[Array[Array[Byte]]] =
    spec.split("\\|", -1).map(_.split(",", -1).filter(_.nonEmpty)
      .map(_.getBytes("UTF-8")))

  require(groups.nonEmpty && groups.forall(_.nonEmpty),
    s"word_profile spec needs at least one non-empty vocab group, got '$spec'")

  def fnName: String = "word_profile"

  override def dataType: DataType = StructType(Seq(
    StructField("n_tok", IntegerType, nullable = false),
    StructField("n_uniq", IntegerType, nullable = false),
    StructField("hits", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("ws_runs", IntegerType, nullable = false),
    StructField("punct", IntegerType, nullable = false)))

  def compute(s: UTF8String): Any = {
    import Tokens._
    val n = s.numBytes()
    // pass 1: spaces -> token count (split(' ') semantics: m = spaces+1),
    // plus the token_runs ws/punct classification in the same loop
    // (byte-for-byte the TokenCount semantics: a continuation byte is a
    // strict no-op — ws-run state unchanged, no punct count)
    var spaces = 0
    var wsRuns = 0
    var punct = 0
    var prevWs = true
    var i = 0
    while (i < n) {
      val ub = s.getByte(i) & 0xff
      if (ub == 0x20) spaces += 1
      if (!isCont(ub)) {
        val white = isWs(ub)
        if (!white && prevWs) wsRuns += 1
        if (!white && !isLetter(ub) && !isDigit(ub)) punct += 1
        prevWs = white
      }
      i += 1
    }
    val m = spaces + 1
    val hits = new Array[Int](groups.length)
    val table = if (withUniq) Terms.table(m) else null
    var nUniq = 0

    var start = 0
    i = 0
    while (i <= n) {
      if (i == n || s.getByte(i) == 0x20) {
        val len = i - start
        // vocab hits: length-first byte compare against each group
        var g = 0
        while (g < groups.length) {
          val ws = groups(g)
          var wi = 0
          var matched = false
          while (!matched && wi < ws.length) {
            val w = ws(wi)
            if (w.length == len) {
              var b = 0
              while (b < len && w(b) == s.getByte(start + b)) b += 1
              matched = b == len
            }
            wi += 1
          }
          if (matched) hits(g) += 1
          g += 1
        }
        if (withUniq && Terms.add(s, table, start, i) < 0) nUniq += 1
        start = i + 1
      }
      i += 1
    }

    new GenericInternalRow(Array[Any](m, if (withUniq) nUniq else -1,
      new GenericArrayData(hits), wsRuns, punct))
  }

  override protected def withNewChildInternal(newChild: Expression): WordProfile =
    copy(child = newChild)
}
