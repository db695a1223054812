package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `word_chunks(text, chunk, stride)` — sliding-window document chunking
  * for training-data / retrieval pipelines: token windows of `chunk`
  * words starting every `stride` words, clamped at the document end,
  * stopping after the first window that reaches the last token (so no
  * emitted chunk is a suffix of its predecessor). A doc of `m` tokens
  * yields `1` chunk when `m <= chunk`, else
  * `floor((m - chunk + stride - 1) / stride) + 1` — the count the
  * DuckDB oracle replays with integer arithmetic.
  *
  * Tokens are `split(text, ' ')` segments (empty tokens included, the
  * cross-engine contract of the text tier), and each chunk is the
  * tokens rejoined by a single space — which, by the [[ShingleHash]]
  * byte-range identity, is a verbatim byte slice of the original
  * string: one copy per chunk, no token array, no per-window transform
  * chain. `stride > chunk` (gapped sampling) is allowed.
  */
case class WordChunks(child: Expression, chunk: Int, stride: Int)
    extends WindowKernel {

  require(chunk >= 1, s"word_chunks needs chunk >= 1, got $chunk")
  require(stride >= 1, s"word_chunks needs stride >= 1, got $stride")

  def fnName: String = "word_chunks"

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  protected def window(s: UTF8String, starts: Array[Int], first: Int, last: Int): Any =
    Tokens.slice(s, starts(first), Tokens.end(starts, last, s.numBytes()))

  override protected def withNewChildInternal(newChild: Expression): WordChunks =
    copy(child = newChild)
}

/** The sliding token windows both chunk kernels emit: `chunk` tokens
  * every `stride` tokens, the last one clamped at the document end. */
abstract class WindowKernel extends StringKernel {
  def chunk: Int
  def stride: Int

  /** One output element for the window of tokens [first, last]. */
  protected def window(s: UTF8String, starts: Array[Int], first: Int, last: Int): Any

  def compute(s: UTF8String): Any = {
    val m = Tokens.count(s)
    val starts = Tokens.starts(s, m)
    val nChunks =
      if (m <= chunk) 1 else (m - chunk + stride - 1) / stride + 1
    val out = new Array[Any](nChunks)
    var k = 0
    while (k < nChunks) {
      val first = k * stride
      out(k) = window(s, starts, first, math.min(first + chunk - 1, m - 1))
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** `word_chunk_spans(text, chunk, stride)` — the SPAN MANIFEST dual of
  * [[WordChunks]]: the same sliding windows, emitted as
  * `(start_tok, n_tok, start_byte, len_bytes)` offset structs instead
  * of materialized byte slices. [[WordChunks]]' output is inherently
  * ~(chunk/stride)× the corpus bytes (every overlapped window carries a
  * verbatim copy — the floor for chunking that RE-EMITS text); the span
  * manifest is what a training loader actually consumes (slice the
  * source bytes at load time), and its output is METADATA-sized: 16
  * bytes per window regardless of document size, the same move
  * [[graft.ext.Packing.windows]] made for sequence packing.
  *
  * Rebuild identity (spec'd in ChunkingSpec, and the contract the
  * q_chunk_spans oracle leans on): for every emitted span,
  * `text.bytes[start_byte, start_byte + len_bytes)` is bit-for-bit the
  * corresponding [[WordChunks]] chunk — offsets are BYTE offsets into
  * the UTF-8 encoding (multi-byte-safe), not character offsets.
  */
case class WordChunkSpans(child: Expression, chunk: Int, stride: Int)
    extends WindowKernel {

  require(chunk >= 1, s"word_chunk_spans needs chunk >= 1, got $chunk")
  require(stride >= 1, s"word_chunk_spans needs stride >= 1, got $stride")

  def fnName: String = "word_chunk_spans"

  override def dataType: DataType =
    ArrayType(WordChunkSpans.spanType, containsNull = false)

  protected def window(s: UTF8String, starts: Array[Int], first: Int, last: Int): Any =
    InternalRow(first, last - first + 1, starts(first),
      Tokens.end(starts, last, s.numBytes()) - starts(first))

  override protected def withNewChildInternal(newChild: Expression): WordChunkSpans =
    copy(child = newChild)
}

object WordChunkSpans {
  val spanType: StructType = StructType(Seq(
    StructField("start_tok", IntegerType, nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("start_byte", IntegerType, nullable = false),
    StructField("len_bytes", IntegerType, nullable = false)))
}
