package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.TestSpark
import graft.queries.Spool

/** Malformed-input contract of the ingestion sources: the engine must
  * offer all three industry policies — capture (PERMISSIVE + corrupt
  * column), drop (DROPMALFORMED), abort (FAILFAST) — because a 100 TB
  * ingest WILL contain garbage rows and silently mangling them (what the
  * reference's regex splice does to odd inputs) is the worst of the
  * options. */
class SourceRobustnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val inDir: String = {
    val d = Spool.dir("graft-robust")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(d, "mixed.json"),
      """{"k": 1, "s": "good"}
        |THIS IS NOT JSON {{{
        |{"k": 3, "s": "also good"}""".stripMargin)
    d
  }

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType),
    StructField("_corrupt", StringType)))

  test("PERMISSIVE captures the bad row in the corrupt column, keeps good rows intact") {
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(inDir)
      .cache() // corrupt-column queries must see the raw parse pass
    assert(df.count() == 3)
    assert(df.filter(col("_corrupt").isNotNull).count() == 1)
    assert(df.filter(col("_corrupt").isNull).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    df.unpersist()
  }

  test("DROPMALFORMED yields only the parseable rows") {
    val df = spark.read
      .schema(StructType(schema.fields.filterNot(_.name == "_corrupt")))
      .option("mode", "DROPMALFORMED")
      .json(inDir)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("FAILFAST aborts the read on the first malformed row") {
    val ex = intercept[SparkException] {
      spark.read
        .schema(StructType(schema.fields.filterNot(_.name == "_corrupt")))
        .option("mode", "FAILFAST")
        .json(inDir)
        .collect()
    }
    assert(ex.getMessage.contains("Malformed") ||
      ex.getCause != null) // wrapped task failure carries the parse error
  }
}
