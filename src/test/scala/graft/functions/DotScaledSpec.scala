package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ext.{Reference, Similarity}

class DotScaledSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("codegen expression equals the HOF formulation on every fixture pair") {
    val e = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val pairs = e.select(col("vec_id").as("ai"), col("embedding").as("a"))
      .join(e.select(col("vec_id").as("bi"), col("embedding").as("b")),
        col("ai") < col("bi") && col("ai") < 30 && col("bi") < 60)
    val mismatches = pairs.select(
        Similarity.dotScaled(col("a"), col("b")).as("native"),
        Reference.dotScaledHof(col("a"), col("b")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(mismatches == 0)
  }

  test("double and mixed float/double arrays equal the HOF formulation") {
    val e = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
      .withColumn("d", expr("transform(embedding, x -> cast(x as double))"))
    val pairs = e.select(col("vec_id").as("ai"), col("embedding").as("fa"),
        col("d").as("da"))
      .join(e.select(col("vec_id").as("bi"), col("d").as("db")),
        col("ai") < col("bi") && col("ai") < 20 && col("bi") < 40)
    val mismatches = pairs.select(
        Similarity.dotScaled(col("da"), col("db")).as("dd"),
        Reference.dotScaledHof(col("da"), col("db")).as("ddHof"),
        Similarity.dotScaled(col("fa"), col("db")).as("fd"),
        Reference.dotScaledHof(col("fa"), col("db")).as("fdHof"))
      .filter(col("dd") =!= col("ddHof") || col("fd") =!= col("fdHof"))
      .count()
    assert(mismatches == 0)
  }

  test("null semantics mirror zip_with: null element or length mismatch -> NULL") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f), Array(3.0f, 4.0f)),
      (2L, Array(1.0f), Array(3.0f, 4.0f))
    ).toDF("id", "a", "b")
      .withColumn("a", when(col("id") === 1, col("a")).otherwise(col("a")))
    val shortVsLong = df.filter(col("id") === 2)
      .select(Similarity.dotScaled(col("a"), col("b"))).head()
    assert(shortVsLong.isNullAt(0))
    val withNullElem = Seq((Array[java.lang.Float](1.0f, null), Array[java.lang.Float](2.0f, 3.0f)))
      .toDF("a", "b")
      .select(expr("dot_scaled(cast(a as array<float>), cast(b as array<float>))"))
      .head()
    assert(withNullElem.isNullAt(0))
    val nullArray = Seq((Array(1.0f), Option.empty[Array[Float]]))
      .toDF("a", "b")
      .select(Similarity.dotScaled(col("a"), col("b"))).head()
    assert(nullArray.isNullAt(0))
  }

  test("known value and sign handling") {
    val d = Seq((Array(1.0f, -0.5f), Array(2.0f, 4.0f))).toDF("a", "b")
      .select(Similarity.dotScaled(col("a"), col("b"))).as[Long].head()
    // floor(2e15) + floor(-2e15) = 2e15 - 2e15 = 0
    assert(d == 0L)
    val neg = Seq((Array(-1.0f), Array(1.0f))).toDF("a", "b")
      .select(Similarity.dotScaled(col("a"), col("b"))).as[Long].head()
    assert(neg == -1000000000000000L)
  }

  test("whole-stage codegen accepts the generated loop (no fallback)") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val e = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    val plan = e.select(Similarity.dotScaled(col("embedding"), col("embedding")))
      .queryExecution.executedPlan
    // toString renders codegen spans as "*(n)"; assert the node is there
    assert(plan.find(_.isInstanceOf[WholeStageCodegenExec]).isDefined,
      plan.toString)
  }
}
