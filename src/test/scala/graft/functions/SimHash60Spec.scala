package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ext.{Dedup, Reference, TextOps}

class SimHash60Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native expression equals the HOF formulation on every fixture doc") {
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val hx = docs.select(col("doc_id"),
      transform(TextOps.shingles(col("text")), s => TextOps.hash60(s)).as("hx"))
    val mism = hx.select(
        Dedup.simhash60("hx").as("native"),
        Reference.simhash60Hof("hx").as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(mism == 0)
  }

  test("known values: empty set, single feature, strict-majority ties") {
    val one = Seq(Seq(5L)).toDF("hx")
      .select(Dedup.simhash60("hx")).as[Long].head()
    assert(one == 5L) // one feature: simhash = the feature's bits
    val empty = Seq(Seq.empty[Long]).toDF("hx")
      .select(Dedup.simhash60("hx")).as[Long].head()
    assert(empty == 0L)
    // tie on bit 0 (one of two features sets it) -> bit clear
    val tie = Seq(Seq(1L, 0L)).toDF("hx")
      .select(Dedup.simhash60("hx")).as[Long].head()
    assert(tie == 0L)
    // 2-of-3 majority -> bit set
    val maj = Seq(Seq(1L, 1L, 0L)).toDF("hx")
      .select(Dedup.simhash60("hx")).as[Long].head()
    assert(maj == 1L)
  }

  test("null element nulls the hash (mirrors the HOF chain)") {
    val r = Seq(Seq[java.lang.Long](1L, null)).toDF("hx")
      .select(expr("simhash60(hx)")).head()
    assert(r.isNullAt(0))
  }
}
