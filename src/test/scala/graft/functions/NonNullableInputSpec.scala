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
  * odd rows malformed. */
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
}
