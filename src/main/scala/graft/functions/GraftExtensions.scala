package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.{BooleanType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Session extensions: registers the engine's native expressions so
  * `expr("dot_scaled(a, b)")` / `call_function` resolve. Wired into
  * [[graft.Sessions.build]]; external sessions opt in via
  * `.withExtensions(GraftExtensions)`. Every registration is one row of
  * [[table]], which the contract spec (`NonNullableInputSpec`) also
  * reads, so a function registered here without a contract case fails
  * that spec. */
object GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** One SQL function: its name, the expression class `DESCRIBE
    * FUNCTION` reports, its arity, what a wrong arity is told it takes,
    * and the builder over exactly `arity` arguments. */
  final case class Fn(name: String, cls: Class[_], arity: Int, usage: String,
      build: Args => Expression)

  /** A call's arguments, with the literal readers the builders use: a
    * non-literal parameter fails naming the function and the parameter. */
  final class Args(fn: String, children: Seq[Expression]) {
    def apply(i: Int): Expression = children(i)

    private def literal[T](i: Int, what: String, kind: String)(
        pick: PartialFunction[Expression, T]): T =
      pick.applyOrElse(children(i), (other: Expression) =>
        throw new IllegalArgumentException(s"$fn $what must be $kind literal, got $other"))

    def int(i: Int, what: String): Int =
      literal(i, what, "an int") { case Literal(v: Int, IntegerType) => v }
    def string(i: Int, what: String): String =
      literal(i, what, "a string") { case Literal(v: UTF8String, StringType) => v.toString }
    def boolean(i: Int, what: String): Boolean =
      literal(i, what, "a boolean") { case Literal(v: Boolean, BooleanType) => v }
  }

  private def fn(name: String, cls: Class[_], arity: Int, usage: String = "")(
      build: Args => Expression): Fn =
    Fn(name, cls, arity,
      if (usage.nonEmpty) usage
      else s"exactly $arity argument${if (arity == 1) "" else "s"}",
      build)

  private val TextN = "(text, n) with n an int literal"
  private val Windows = "(text, chunk, stride) with chunk/stride int literals"

  val table: Seq[Fn] = Seq(
    fn("dot_scaled", classOf[DotScaled], 2)(a => DotScaled(a(0), a(1))),
    fn("int_dot", classOf[IntDot], 2)(a => IntDot(a(0), a(1))),
    fn("simhash60", classOf[SimHash60], 1)(a => SimHash60(a(0))),
    // the engine's standard permutation set; other seed sets construct
    // MinHashSig directly
    fn("minhash_sig", classOf[MinHashSig], 1)(a =>
      MinHashSig(a(0), graft.ext.Dedup.minhashSeeds)),
    fn("bloom_filter_agg", classOf[BloomFilterAggregate], 3,
      "(hash, estimatedItems, numBits)")(a => new BloomFilterAggregate(a(0), a(1), a(2))),
    // Spark ships the expression (codegen probe over a bloom_filter_agg
    // sketch) but registers it only for the runtime-filter rewrite; the
    // engine exposes it for explicit bloom pre-filters
    fn("might_contain", classOf[BloomFilterMightContain], 2)(a =>
      BloomFilterMightContain(a(0), a(1))),
    // the engine's standard merges table; trained tables construct
    // BpeEncode directly
    fn("bpe_encode", classOf[BpeEncode], 1)(a => BpeEncode(a(0), graft.ext.Bpe.Standard)),
    fn("shingle_hash", classOf[ShingleHash], 2, TextN)(a =>
      ShingleHash(a(0), a.int(1, "n"))),
    // raw 64-bit xxhash64 — the join-key domain (decontamination); the
    // 2-arg shingle_hash keeps the MinHash pmod-P domain
    fn("shingle_hash64", classOf[ShingleHash], 2, TextN)(a =>
      ShingleHash(a(0), a.int(1, "n"), raw = true)),
    fn("word_ngrams", classOf[WordNgrams], 2, TextN)(a => WordNgrams(a(0), a.int(1, "n"))),
    fn("word_chunks", classOf[WordChunks], 3, Windows)(a =>
      WordChunks(a(0), a.int(1, "chunk"), a.int(2, "stride"))),
    fn("word_chunk_spans", classOf[WordChunkSpans], 3, Windows)(a =>
      WordChunkSpans(a(0), a.int(1, "chunk"), a.int(2, "stride"))),
    fn("word_profile", classOf[WordProfile], 3, "(text, spec, with_uniq) with spec a " +
        "string literal and with_uniq a boolean literal")(a =>
      WordProfile(a(0), a.string(1, "spec"), a.boolean(2, "with_uniq"))),
    // per-document term frequencies: the unigram case of ngram_counts
    fn("word_counts", classOf[NgramCounts], 1)(a => NgramCounts(a(0), 1, "word_counts")),
    fn("ngram_counts", classOf[NgramCounts], 2, TextN)(a => NgramCounts(a(0), a.int(1, "n"))),
    fn("token_runs", classOf[TokenCount], 2, "(text, mode) with mode a string literal")(a =>
      TokenCount(a(0), a.string(1, "mode"))))

  def apply(e: SparkSessionExtensions): Unit = table.foreach { f =>
    e.injectFunction((
      new FunctionIdentifier(f.name),
      new ExpressionInfo(f.cls.getName, f.name),
      (children: Seq[Expression]) => {
        require(children.size == f.arity, s"${f.name} takes ${f.usage}")
        f.build(new Args(f.name, children))
      }))
  }
}
