package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ext.TextOps

/** The byte-scan shingle hasher must be value-identical (content AND
  * first-occurrence order) to the interpreted reference chain
  * `array_distinct(transform(shingles(text, n), s => pmod(xxhash64(s),
  * P)))` — the two differ only under an xxhash64 collision between
  * distinct shingles of one document, which no fixture (and no plausible
  * corpus) produces. */
class ShingleHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def reference(n: Int) =
    array_distinct(transform(TextOps.shingles(col("text"), n),
      s => pmod(xxhash64(s), lit(TextOps.P))))

  private def check(texts: Seq[String], n: Int): Unit = {
    val df = texts.toDF("text")
    val rows = df.select(
        call_function("shingle_hash", col("text"), lit(n)).as("native"),
        reference(n).as("ref"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.zip(texts).foreach { case ((nat, ref), t) =>
      assert(nat == ref, s"mismatch on ${t.take(60).mkString}")
    }
  }

  test("hostile strings: spaces, empties, unicode, short docs") {
    val hostiles = Seq(
      "",                       // one empty token -> one empty shingle
      " ",                      // two empty tokens
      "   ",                    // runs of separators -> empty tokens
      "a",                      // shorter than n: whole text clamped
      "a b",                    // still shorter than n=3
      "a b c",                  // exactly one shingle
      "a b c d e",              // overlapping windows
      " leading space",         // empty first token
      "trailing space ",        // empty last token kept (split limit -1)
      "double  space between",  // empty token mid-stream
      "a a a a a a",            // duplicate shingles -> distinct collapses
      "café naïve résumé café naïve résumé", // multibyte + repeat
      " nbsp is not a separator",   // NBSP stays inside a token
      "emoji 😀 mid 😀 emoji", // surrogate pairs
      "tab\tis not a separator either")
    for (n <- Seq(1, 2, 3, 5)) check(hostiles, n)
  }

  test("fixture corpus: every doc agrees at n=3") {
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val bad = docs.select(
        call_function("shingle_hash", col("text"), lit(3)).as("native"),
        reference(3).as("ref"))
      .filter(not(col("native") === col("ref")))
      .count()
    assert(bad == 0L)
  }

  test("null text yields null, not a crash") {
    val r = Seq[Option[String]](None, Some("a b c d")).toDF("text")
      .select(call_function("shingle_hash", col("text"), lit(3)))
      .collect()
    assert(r(0).isNullAt(0) && !r(1).isNullAt(0))
  }

  test("expression stays inside whole-stage codegen") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val plan = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
      .select(call_function("shingle_hash", col("text"), lit(3)).as("hx"))
      .queryExecution.executedPlan
    assert(plan.find(_.isInstanceOf[WholeStageCodegenExec]).isDefined,
      plan.toString)
  }

  test("shingle_hash64 errors name shingle_hash64, the function called") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(call_function("shingle_hash64", col("id"), lit(3))).collect())
    assert(e.getMessage.contains("shingle_hash64 expects string, got bigint"), e.getMessage)
    val n0 = intercept[IllegalArgumentException](
      ShingleHash(org.apache.spark.sql.catalyst.expressions.Literal("a"), 0, raw = true))
    assert(n0.getMessage.contains("shingle_hash64 needs n >= 1, got 0"), n0.getMessage)
  }
}
