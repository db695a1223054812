package graft.land

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.Spool

class LandingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("csvCompat writes ONE csv part file with a header") {
    val out = Spool.dir("graft-csv")
    val df = graft.Tables.t(spark, TestSpark.Sf0001, "region")
    Landing.csvCompat(df, s"$out/raw")
    val parts = new java.io.File(s"$out/raw").listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(parts.length == 1) // the reference's single-file contract
    val first = scala.io.Source.fromFile(parts.head).getLines().next()
    assert(first.contains("r_regionkey"))
  }

  test("csv, json and orc round-trip: values survive every source format") {
    val out = Spool.dir("graft-fmt")
    val src = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    src.write.option("header", "true").csv(s"$out/csv")
    src.write.json(s"$out/json")
    src.write.orc(s"$out/orc")
    val fromCsv = spark.read.option("header", "true")
      .schema(src.schema).csv(s"$out/csv")
    val fromJson = spark.read.schema(src.schema).json(s"$out/json")
    val fromOrc = spark.read.orc(s"$out/orc")
    val orig = src.orderBy("n_nationkey").collect().toSeq
    assert(fromCsv.orderBy("n_nationkey").collect().toSeq == orig)
    assert(fromJson.orderBy("n_nationkey").collect().toSeq == orig)
    assert(fromOrc.orderBy("n_nationkey").collect().toSeq == orig)
  }

  test("parquet landing partitions by the given columns (hive layout)") {
    val out = Spool.dir("graft-parq")
    val df = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    Landing.parquet(df, s"$out/raw", partitionBy = Seq("n_regionkey"))
    val dirs = new java.io.File(s"$out/raw").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("n_regionkey=")))
    // partition pruning: a filtered read touches one directory's rows only
    val pruned = spark.read.parquet(s"$out/raw")
      .filter(col("n_regionkey") === 1)
    assert(pruned.count() ==
      df.filter(col("n_regionkey") === 1).count())
  }
}
