package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `dot_scaled(a, b)` — the exact integer-scaled dot product of two
  * float/double arrays: sum_i floor(double(a_i) * double(b_i) * 1e15)
  * as LONG.
  *
  * This is the custom-Catalyst tier of SURVEY §7.3: the same semantics as
  * the higher-order-function formulation in [[graft.ext.Similarity]]
  * (zip_with + floor + aggregate), but HOF lambdas are interpreted per
  * element while this expression generates a tight Java loop inside
  * whole-stage codegen. Bit-identical results by construction — each
  * product is a deterministic IEEE double op, floor+cast matches the HOF
  * floor(double)->long, and integer accumulation is order-independent.
  * Double elements pass through the identity cast the HOF chain applies,
  * so the float and double paths share one value contract (r20: the
  * IVF-PQ residual tier ran the interpreted HOF on array<double> —
  * guide §4's non-codegen-in-hot-path case — and now resolves here).
  *
  * Null semantics mirror the HOF chain: null input array, null element,
  * or length mismatch (zip_with pads with null) => NULL.
  */
case class DotScaled(left: Expression, right: Expression)
    extends BinaryExpression {

  // malformed input (a null element, a length mismatch) yields null,
  // so the result is nullable even when the input array is not
  override def nullable: Boolean = true

  override def dataType: DataType = LongType

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_scaled expects float/double arrays, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  private def isDouble(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[ArrayData]
    val b = bv.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val aD = isDouble(left.dataType)
    val bD = isDouble(right.dataType)
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aD) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bD) b.getDouble(i) else b.getFloat(i).toDouble
      acc += math.floor(x * y * 1e15).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val getA = if (isDouble(left.dataType)) s"$a.getDouble($i)"
        else s"((double) $a.getFloat($i))"
      val getB = if (isDouble(right.dataType)) s"$b.getDouble($i)"
        else s"((double) $b.getFloat($i))"
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (long) Math.floor($getA * $getB * 1.0E15D);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotScaled =
    copy(left = newLeft, right = newRight)
}

/** `int_dot(a, b)` — the exact integer dot product of two long arrays:
  * sum_i (a_i * b_i) as LONG. The codegen form of the semantic-dedup
  * kernel `aggregate(zip_with(a, b, (x, y) => x * y), 0L, _ + _)`
  * ([[graft.ext.SemDedup.intDot]]): that HOF chain is interpreted per
  * element and sat on the hottest path in the engine — the
  * within-cluster pairwise verdict join evaluates it once per candidate
  * PAIR (guide §4: prefer codegen expressions in the hot path). Values
  * are identical by construction: integer multiply-accumulate in the
  * same order, and the int8-code domain (|v| <= 127, dims <= thousands)
  * keeps every product and the sum far inside Long, so the ANSI
  * overflow behavior of the HOF chain is unreachable.
  *
  * Null semantics mirror the HOF chain: null input array, null element,
  * or length mismatch (zip_with pads with null) => NULL.
  */
case class IntDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // malformed input (a null element, a length mismatch) yields null,
  // so the result is nullable even when the input array is not
  override def nullable: Boolean = true

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"int_dot expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[ArrayData]
    val b = bv.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDot =
    copy(left = newLeft, right = newRight)
}

/** Session extensions: registers the engine's native expressions so
  * `expr("dot_scaled(a, b)")` / `call_function` resolve. Wired into
  * [[graft.Sessions.build]]; external sessions opt in via
  * `.withExtensions(GraftExtensions)`. */
object GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("dot_scaled"),
      new ExpressionInfo(classOf[DotScaled].getName, "dot_scaled"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "dot_scaled takes exactly 2 arguments")
        DotScaled(children.head, children(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("int_dot"),
      new ExpressionInfo(classOf[IntDot].getName, "int_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "int_dot takes exactly 2 arguments")
        IntDot(children.head, children(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "simhash60 takes exactly 1 argument")
        SimHash60(children.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "minhash_sig takes exactly 1 argument")
        // the engine's standard permutation set; other seed sets
        // construct MinHashSig directly
        MinHashSig(children.head, graft.ext.Dedup.minhashSeeds)
      }))
    e.injectFunction((
      new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "bloom_filter_agg takes (hash, estimatedItems, numBits)")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children.head, children(1), children(2))
      }))
    e.injectFunction((
      new FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "might_contain takes exactly 2 arguments")
        // Spark ships the expression (codegen probe over a bloom_filter_agg
        // sketch) but registers it only for the runtime-filter rewrite;
        // the engine exposes it for explicit bloom pre-filters
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "bpe_encode"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "bpe_encode takes exactly 1 argument")
        // the engine's standard merges table; trained tables construct
        // BpeEncode directly
        BpeEncode(children.head, graft.ext.Bpe.Standard)
      }))
    e.injectFunction((
      new FunctionIdentifier("shingle_hash"),
      new ExpressionInfo(classOf[ShingleHash].getName, "shingle_hash"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "shingle_hash takes (text, n) with n an int literal")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"shingle_hash n must be an int literal, got $other")
        }
        ShingleHash(children.head, n)
      }))
    e.injectFunction((
      new FunctionIdentifier("shingle_hash64"),
      new ExpressionInfo(classOf[ShingleHash].getName, "shingle_hash64"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "shingle_hash64 takes (text, n) with n an int literal")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"shingle_hash64 n must be an int literal, got $other")
        }
        // raw 64-bit xxhash64 — the join-key domain (decontamination);
        // the 2-arg shingle_hash keeps the MinHash pmod-P domain
        ShingleHash(children.head, n, raw = true)
      }))
    e.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "word_ngrams takes (text, n) with n an int literal")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"word_ngrams n must be an int literal, got $other")
        }
        WordNgrams(children.head, n)
      }))
    e.injectFunction((
      new FunctionIdentifier("word_chunks"),
      new ExpressionInfo(classOf[WordChunks].getName, "word_chunks"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "word_chunks takes (text, chunk, stride) with chunk/stride int literals")
        def intLit(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"word_chunks $what must be an int literal, got $other")
        }
        WordChunks(children.head, intLit(children(1), "chunk"),
          intLit(children(2), "stride"))
      }))
    e.injectFunction((
      new FunctionIdentifier("word_chunk_spans"),
      new ExpressionInfo(classOf[WordChunkSpans].getName, "word_chunk_spans"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "word_chunk_spans takes (text, chunk, stride) with chunk/stride int literals")
        def intLit(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"word_chunk_spans $what must be an int literal, got $other")
        }
        WordChunkSpans(children.head, intLit(children(1), "chunk"),
          intLit(children(2), "stride"))
      }))
    e.injectFunction((
      new FunctionIdentifier("word_profile"),
      new ExpressionInfo(classOf[WordProfile].getName, "word_profile"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "word_profile takes (text, spec, with_uniq) with spec a string " +
            "literal and with_uniq a boolean literal")
        val spec = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(
              s: org.apache.spark.unsafe.types.UTF8String, StringType) => s.toString
          case other => throw new IllegalArgumentException(
            s"word_profile spec must be a string literal, got $other")
        }
        val withUniq = children(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(b: Boolean, BooleanType) => b
          case other => throw new IllegalArgumentException(
            s"word_profile with_uniq must be a boolean literal, got $other")
        }
        WordProfile(children.head, spec, withUniq)
      }))
    e.injectFunction((
      new FunctionIdentifier("word_counts"),
      new ExpressionInfo(classOf[WordCounts].getName, "word_counts"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "word_counts takes exactly 1 argument")
        WordCounts(children.head)
      }))
    e.injectFunction((
      new FunctionIdentifier("ngram_counts"),
      new ExpressionInfo(classOf[NgramCounts].getName, "ngram_counts"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "ngram_counts takes (text, n) with n an int literal")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(i: Int, IntegerType) => i
          case other => throw new IllegalArgumentException(
            s"ngram_counts n must be an int literal, got $other")
        }
        NgramCounts(children.head, n)
      }))
    e.injectFunction((
      new FunctionIdentifier("token_runs"),
      new ExpressionInfo(classOf[TokenCount].getName, "token_runs"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "token_runs takes (text, mode) with mode a string literal")
        val mode = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(
              s: org.apache.spark.unsafe.types.UTF8String, StringType) => s.toString
          case other => throw new IllegalArgumentException(
            s"token_runs mode must be a string literal, got $other")
        }
        TokenCount(children.head, mode)
      }))
  }
}
