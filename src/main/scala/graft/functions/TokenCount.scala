package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `token_runs(text, mode)` — single-pass byte-scan token counting,
  * replacing `size(regexp_extract_all(...))` formulations that build an
  * array of match strings only to count them (at 100 TB that is one
  * transient UTF8String per token of the corpus). Three modes, each
  * value-identical to its regex reference (Java `Pattern` default
  * semantics — ASCII `\s`, per-code-point character classes):
  *
  *  - `ws`    ≡ `size(regexp_extract_all(text, "\\S+"))` — maximal
  *    non-whitespace runs. Whitespace is ASCII `\s` = TAB..CR + space;
  *    multi-byte UTF-8 chars are non-whitespace, so byte-level run
  *    detection equals code-point-level.
  *  - `punct` ≡ `size(regexp_extract_all(text, "[^A-Za-z0-9\\s]", 0))`
  *    — count of code points outside alnum+whitespace. Counted at
  *    leading bytes (continuation bytes `10xxxxxx` skip), so a 4-byte
  *    emoji counts once, exactly as Java regex matches one code point.
  *  - `bpe`   ≡ `size(regexp_extract_all(text,
  *    "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]", 0))` — letter runs + digit
  *    runs + single punctuation code points (the BPE-ish pre-token
  *    segmentation in [[graft.ext.TextOps.bpeTokenCount]]).
  *
  * Each mode is one branchy byte loop over the UTF8String, chosen once
  * per row; generated code calls the typed [[count]], so the int is
  * never boxed. No allocation, inside whole-stage codegen. Null text =>
  * NULL, matching the regex forms.
  */
case class TokenCount(child: Expression, mode: String) extends StringKernel {

  require(TokenCount.Modes.contains(mode),
    s"token_runs mode must be one of ${TokenCount.Modes.mkString("/")}, got '$mode'")

  def fnName: String = "token_runs"

  override def dataType: DataType = IntegerType

  def compute(s: UTF8String): Any = count(s)

  override protected def javaCall(ref: String, text: String): String =
    s"$ref.count($text)"

  def count(s: UTF8String): Int = mode match {
    case "ws" => TokenCount.wsRuns(s)
    case "punct" => TokenCount.punct(s)
    case _ => TokenCount.bpe(s)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

object TokenCount {
  import Tokens._

  val Modes: Set[String] = Set("ws", "punct", "bpe")

  /** Maximal non-whitespace runs; continuation bytes change nothing. */
  def wsRuns(s: UTF8String): Int = {
    var count = 0
    var prevWs = true
    var i = 0
    while (i < s.numBytes()) {
      val ub = s.getByte(i) & 0xff
      if (!isCont(ub)) {
        val white = isWs(ub)
        if (!white && prevWs) count += 1
        prevWs = white
      }
      i += 1
    }
    count
  }

  /** Code points outside alnum + whitespace, counted at lead bytes. */
  def punct(s: UTF8String): Int = {
    var count = 0
    var i = 0
    while (i < s.numBytes()) {
      val ub = s.getByte(i) & 0xff
      if (!isCont(ub) && !isWs(ub) && !isLetter(ub) && !isDigit(ub)) count += 1
      i += 1
    }
    count
  }

  /** Letter runs + digit runs + single punctuation code points. */
  def bpe(s: UTF8String): Int = {
    var count = 0
    var prev = 0 // 0 = start/whitespace, 1 = letter, 2 = digit, 3 = other
    var i = 0
    while (i < s.numBytes()) {
      val ub = s.getByte(i) & 0xff
      if (isCont(ub)) prev = 3
      else if (isLetter(ub)) { if (prev != 1) count += 1; prev = 1 }
      else if (isDigit(ub)) { if (prev != 2) count += 1; prev = 2 }
      else if (isWs(ub)) prev = 0
      else { count += 1; prev = 3 }
      i += 1
    }
    count
  }
}
