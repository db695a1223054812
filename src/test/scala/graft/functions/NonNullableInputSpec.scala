package graft.functions

import org.apache.spark.sql.{Column, GraftShims, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The native kernels that return null on malformed input (a null
  * element, a length or dimension mismatch) over NON-nullable array
  * columns. A kernel that inherits its child's nullability declares no
  * null flag in generated code, so its body fails to compile there;
  * with codegen fallback off, that failure fails the query instead of
  * silently running the stage interpreted. Even rows are well formed,
  * odd rows malformed.
  *
  * The last test is the contract over every function
  * [[GraftExtensions.table]] registers, plus [[CmsEst]], which is only
  * constructed directly: each runs over a non-nullable and a nullable
  * column of malformed input, and interpreted eval must equal generated
  * code. */
class NonNullableInputSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def native(kernel: Expression => Expression, in: Column): Column =
    GraftShims.column(kernel(GraftShims.expression(in)))

  /** (non-nullable input, kernel) → one result per id 0..5. */
  private def run(input: String, kernel: Column => Column): Seq[Any] = {
    val df = spark.range(6).select(expr(input).as("v"))
    assert(!df.schema("v").nullable, s"$input must be a non-nullable column")
    val out = df.select(kernel(col("v")).as("r"))
    val rows = out.collect().map(_.get(0)).toSeq
    assert(out.schema("r").nullable)
    rows
  }

  private val doubles = "if(id % 2 = 0, array(cast(id as double), 1.0D), array(cast(id as double)))"
  private val longs = "if(id % 2 = 0, array(id, 1L), array(id))"

  test("dot_scaled and int_dot compile over non-nullable arrays; mismatch is null") {
    assert(run(doubles, v => call_function("dot_scaled", v, expr("array(1.0D, 2.0D)"))) ==
      Seq(2000000000000000L, null, 4000000000000000L, null, 6000000000000000L, null))
    assert(run(longs, v => call_function("int_dot", v, expr("array(2L, 3L)"))) ==
      Seq(3L, null, 7L, null, 11L, null))
  }

  test("simhash60 compiles over a non-nullable array; a null element is null") {
    assert(run("if(id % 2 = 0, array(id), array(id, null))",
        v => call_function("simhash60", v)) ==
      Seq(0L, null, 2L, null, 4L, null))
  }

  test("quantizer-assignment kernels compile over non-nullable arrays; dim mismatch is null") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    assert(run(doubles, v => native(NearestCentroidDot(_, Seq(0, 1), cents), v)) ==
      Seq(1, null, 0, null, 0, null))
    assert(run(doubles, v => native(NearestCentroidResidual(_, Seq(0, 1), cents), v)) ==
      Seq(Row(1, Seq(0.0, 0.0)), null, Row(0, Seq(1.0, 1.0)), null,
        Row(0, Seq(3.0, 1.0)), null))
    val codebook = Seq(Seq(0.0), Seq(3.0))
    assert(run(doubles, v => native(PqAssignCodes(_, 1, Seq(Seq(0, 1), Seq(0, 1)),
        Seq(codebook, codebook)), v)) ==
      Seq(Seq(0, 0), null, Seq(1, 0), null, Seq(1, 0), null))
  }

  test("pq_lut compiles over a non-nullable array; dim mismatch is null") {
    val codebooks = Seq(Seq(Seq(1.0), Seq(2.0)), Seq(Seq(3.0), Seq(0.5)))
    assert(run(doubles, v => native(PqLut(_, 1, codebooks), v)) ==
      Seq(Seq(0L, 0L, 3000000000000000L, 500000000000000L), null,
        Seq(2000000000000000L, 4000000000000000L, 3000000000000000L, 500000000000000L), null,
        Seq(4000000000000000L, 8000000000000000L, 3000000000000000L, 500000000000000L), null))
  }

  private val texts = Seq("", " ", "   ", "a  b c", " lead trail ", "café 😀 naïve café",
    "He said: \"42 cafés!\" the end", "the quick brown fox the lazy dog")

  /** `CASE id WHEN 0 THEN v0 ... ELSE vLast END`: non-nullable when
    * every value is a non-null literal. */
  private def byId(vals: Seq[String]): String =
    vals.init.zipWithIndex.map { case (v, i) => s"WHEN $i THEN $v" }
      .mkString("CASE id ", " ", s" ELSE ${vals.last} END")

  /** Malformed rows: empty text, separator runs, boundary spaces and
    * multi-byte characters; arrays with a null element, a short and an
    * empty array. The nullable variant adds null rows. */
  private val inputs = Map(
    "text" -> byId(texts.map(t => s"'$t'")),
    "doubles" -> byId(Seq("array(1.0D, 2.0D)", "array(1.0D)",
      "array(1.0D, CAST(NULL AS DOUBLE))", "CAST(array() AS array<double>)",
      "array(-3.0D, 0.25D)")),
    "longs" -> byId(Seq("array(1L, 2L)", "array(1L)", "array(1L, CAST(NULL AS BIGINT))",
      "CAST(array() AS array<bigint>)", "array(5L, 1152921504606846975L)")))

  private final case class Contract(input: String, kernels: Seq[Column => Column],
      aggregate: Boolean = false)

  private def contracts(bloom: Array[Byte]): Map[String, Contract] = Map(
    "dot_scaled" -> Contract("doubles",
      Seq(v => call_function("dot_scaled", v, expr("array(1.0D, 2.0D)")))),
    "int_dot" -> Contract("longs", Seq(v => call_function("int_dot", v, expr("array(2L, 3L)")))),
    "simhash60" -> Contract("longs", Seq(v => call_function("simhash60", v))),
    "minhash_sig" -> Contract("longs", Seq(v => call_function("minhash_sig", v))),
    "bloom_filter_agg" -> Contract("text", Seq(v => call_function("bloom_filter_agg",
      length(v).cast("long"), lit(100L), lit(1024L))), aggregate = true),
    "might_contain" -> Contract("text",
      Seq(v => call_function("might_contain", lit(bloom), length(v).cast("long")))),
    "bpe_encode" -> Contract("text", Seq(v => call_function("bpe_encode", v))),
    "shingle_hash" -> Contract("text", Seq(1, 3).map(n =>
      (v: Column) => call_function("shingle_hash", v, lit(n)))),
    "shingle_hash64" -> Contract("text", Seq(v => call_function("shingle_hash64", v, lit(2)))),
    "word_ngrams" -> Contract("text", Seq(v => call_function("word_ngrams", v, lit(2)))),
    "word_chunks" -> Contract("text", Seq(v => call_function("word_chunks", v, lit(2), lit(1)))),
    "word_chunk_spans" -> Contract("text",
      Seq(v => call_function("word_chunk_spans", v, lit(3), lit(2)))),
    "word_profile" -> Contract("text", Seq(true, false).map(u => (v: Column) =>
      call_function("word_profile", v, lit("the,a|of,café"), lit(u)))),
    "word_counts" -> Contract("text", Seq(v => call_function("word_counts", v))),
    "ngram_counts" -> Contract("text", Seq(1, 2).map(n =>
      (v: Column) => call_function("ngram_counts", v, lit(n)))),
    "token_runs" -> Contract("text", TokenCount.Modes.toSeq.map(m =>
      (v: Column) => call_function("token_runs", v, lit(m)))),
    "CmsEst" -> Contract("text", Seq(v => native(
      CmsEst(_, new graft.ext.CountMin.Evaluator(Array.tabulate(8)(_.toLong), 2, 4)), v))))

  test("contract: every registered function and CmsEst over nullable, non-nullable and malformed input; interpreted == generated") {
    val bloom = spark.range(5)
      .select(call_function("bloom_filter_agg", col("id"), lit(100L), lit(1024L)))
      .head().getAs[Array[Byte]](0)
    val all = contracts(bloom)
    val missing = GraftExtensions.table.map(_.name).filterNot(all.contains)
    assert(missing.isEmpty, s"registered without a contract case: ${missing.mkString(", ")}")
    // a range source, not a local relation: the optimizer would fold a
    // projection over local rows with interpreted eval
    val runs = for {
      (name, c) <- all.toSeq.sortBy(_._1)
      nullable <- Seq(false, true)
      (kernel, k) <- c.kernels.zipWithIndex
    } yield {
      val v = if (nullable) s"IF(id % 3 = 2, NULL, ${inputs(c.input)})" else inputs(c.input)
      val df = spark.range(texts.size + 1).select(col("id"), expr(v).as("v"))
      assert(df.schema("v").nullable == nullable, s"$name: $v")
      // a fresh Dataset per call: a Dataset plans once, so a second
      // collect on the same one would rerun the generated plan
      def out = if (c.aggregate) df.select(kernel(col("v")))
        else df.select(col("id"), kernel(col("v")))
      (s"$name#$k over ${if (nullable) "nullable" else "non-nullable"} input", c, nullable,
        () => out.collect().toSeq.map(_.toSeq.map {
          case b: Array[Byte] => b.toSeq
          case x => x
        }))
    }
    val generated = runs.map(_._4())
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val interpreted = try runs.map(_._4()) finally prev.foreach {
      case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    runs.zip(generated.zip(interpreted)).foreach { case ((label, c, nullable, _), (g, i)) =>
      assert(g == i, s"$label: generated $g != interpreted $i")
      if (nullable && !c.aggregate)
        assert(g.filter(_.head.asInstanceOf[Long] % 3 == 2).forall(_(1) == null),
          s"$label: null input must give a null result: $g")
    }
  }
}
