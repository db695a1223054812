package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The shared prologue of the string-input kernels: one type check, one
  * null-safe eval and one generated call, all around one per-row Scala
  * body, [[compute]]. Generated code calls that body on this expression
  * object through `ctx.addReferenceObj`, so eval and codegen run the
  * same code by construction, and constructor parameters (`n`, `chunk`,
  * `raw`, tables) are reference state rather than literals inlined into
  * the Java source. The call stays inside the whole-stage-codegen span,
  * the shape Spark's own regexp expressions use. Null text never
  * reaches the body: it yields NULL. */
abstract class StringKernel extends UnaryExpression {

  /** The SQL name errors report. */
  def fnName: String

  /** The per-row body over non-null text. */
  def compute(s: UTF8String): Any

  /** The Java expression generated code evaluates: `compute` cast to the
    * result's Java type. A kernel with a primitive result names its typed
    * method instead, so the generated path does not box. */
  protected def javaCall(ref: String, text: String): String =
    s"(${CodeGenerator.boxedType(dataType)}) $ref.compute($text)"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fnName expects string, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(fnName, this)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = ${javaCall(ref, t)};")
  }
}

/** The single-space token scan of the text tier and the byte classes of
  * its regex-equivalent counters.
  *
  * Tokens are `split(text, ' ')` segments with limit -1 (= DuckDB
  * `string_split(text, ' ')`): separator runs and boundary spaces make
  * empty tokens. The separator is the single byte 0x20, which cannot
  * occur inside a multi-byte UTF-8 sequence, so tokens rejoined with
  * `" "` reconstruct the input verbatim: any run of consecutive tokens
  * is a contiguous byte range of the original string, from the start of
  * its first token to the end of its last. */
private[functions] object Tokens {

  /** `size(split(s, ' '))`: spaces + 1. */
  def count(s: UTF8String): Int = {
    val nb = s.numBytes()
    var spaces = 0
    var i = 0
    while (i < nb) {
      if (s.getByte(i) == 0x20) spaces += 1
      i += 1
    }
    spaces + 1
  }

  /** The start byte of each of the `m` (= [[count]]) tokens: 0, then one
    * past every space. One array is the whole scan: token j ends where
    * [[end]] says. */
  def starts(s: UTF8String, m: Int): Array[Int] = {
    val nb = s.numBytes()
    val out = new Array[Int](m)
    var t = 1
    var i = 0
    while (i < nb) {
      if (s.getByte(i) == 0x20) { out(t) = i + 1; t += 1 }
      i += 1
    }
    out
  }

  /** Exclusive end byte of token j: the space before the next token's
    * start, or the end of the text for the last token. */
  @inline def end(starts: Array[Int], j: Int, nb: Int): Int =
    if (j == starts.length - 1) nb else starts(j + 1) - 1

  /** A copy of the bytes [start, end) of `s`: `s` may point into a
    * reusable scan buffer, so every emitted string owns its storage. */
  def slice(s: UTF8String, start: Int, end: Int): UTF8String = {
    val b = new Array[Byte](end - start)
    Platform.copyMemory(s.getBaseObject, s.getBaseOffset + start, b,
      Platform.BYTE_ARRAY_OFFSET, end - start)
    UTF8String.fromBytes(b)
  }

  // byte classes over an unsigned byte (Java `Pattern` defaults: ASCII
  // `\s` = TAB..CR and space, ASCII letters and digits); a multi-byte
  // code point is one lead byte plus continuation bytes `10xxxxxx`
  @inline def isCont(ub: Int): Boolean = (ub & 0xc0) == 0x80
  @inline def isWs(ub: Int): Boolean = ub == 0x20 || (ub >= 0x09 && ub <= 0x0d)
  @inline def isLetter(ub: Int): Boolean = (ub | 0x20) >= 'a' && (ub | 0x20) <= 'z'
  @inline def isDigit(ub: Int): Boolean = ub >= '0' && ub <= '9'
}

/** The per-row term table of the text tier: an open-addressing set of
  * byte ranges of one string, probed by FNV-1a over the range's bytes
  * and byte-compared on collision, so no term is materialized to be
  * counted. A table is a `long[]` of packed `(start << 32 | len)`
  * entries, -1 = empty; a caller that counts keeps its per-slot counts
  * in an array of the same capacity. The hash is internal: no result
  * depends on it. */
private[functions] object Terms {

  /** An empty table for up to `terms` insertions: capacity 2x rounded
    * up to a power of two, so probes stay short. */
  def table(terms: Int): Array[Long] = {
    var cap = 4
    while (cap < terms * 2) cap <<= 1
    val t = new Array[Long](cap)
    java.util.Arrays.fill(t, -1L)
    t
  }

  /** Looks up the term `s[start, end)`: its slot if present, else
    * inserts it and returns `~slot` (negative). */
  def add(s: UTF8String, table: Array[Long], start: Int, end: Int): Int = {
    val mask = table.length - 1
    val len = end - start
    var h = 0x811c9dc5
    var b = start
    while (b < end) { h = (h ^ (s.getByte(b) & 0xff)) * 0x01000193; b += 1 }
    var slot = h & mask
    while (table(slot) != -1L && !same(s, table(slot), start, len)) slot = (slot + 1) & mask
    if (table(slot) != -1L) slot
    else {
      table(slot) = (start.toLong << 32) | (len.toLong & 0xffffffffL)
      ~slot
    }
  }

  /** Whether the entry's range holds the same bytes as s[start, start + len). */
  private def same(s: UTF8String, entry: Long, start: Int, len: Int): Boolean =
    Terms.len(entry) == len && {
      val os = Terms.start(entry)
      var b = 0
      while (b < len && s.getByte(os + b) == s.getByte(start + b)) b += 1
      b == len
    }

  @inline def start(entry: Long): Int = (entry >>> 32).toInt
  @inline def len(entry: Long): Int = (entry & 0xffffffffL).toInt
}
