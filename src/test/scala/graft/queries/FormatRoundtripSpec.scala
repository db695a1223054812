package graft.queries

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The CSV leg of q_format_roundtrip claims losslessness — prove it on
  * content the default CSV options would mangle: embedded newlines,
  * quotes, commas, the escape char, NULLs, and empty strings. */
class FormatRoundtripSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("lossless CSV options round-trip newlines, quotes, nulls, and empties") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    val rows = Seq(
      Row(1L, "plain"),
      Row(2L, "two\nlines\nhere"),
      Row(3L, "quote \" comma , mix"),
      Row(4L, "backslash \\ and \\N literal"),
      Row(5L, null),
      Row(6L, ""),
      Row(7L, "trailing space "),
      Row(8L, "\n"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)

    val dir = Spool.dir("graft-csvrt") + "/csv"
    df.write.options(LlmPipeline.LosslessCsvOptions).csv(dir)
    val back = spark.read
      .options(LlmPipeline.LosslessCsvOptions + ("multiLine" -> "true"))
      .schema(schema).csv(dir)

    val a = df.collect().map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1)
    val b = back.collect().map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1)
    assert(b.toSeq == a.toSeq)
  }
}
