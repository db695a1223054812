package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ext.{Dedup, Reference}

class MinHashSigSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native signature equals the HOF formulation on every fixture doc") {
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val native = Dedup.minhashSignatures(docs).orderBy("doc_id")
      .select("sig").as[Seq[Long]].collect().toSeq
    val hof = Reference.minhashSignaturesHof(docs).orderBy("doc_id")
      .select("sig").as[Seq[Long]].collect().toSeq
    assert(native == hof)
    assert(native.forall(_.length == Dedup.MinhashK))
  }

  test("single-element input: signature is the permuted hash itself") {
    val x = 12345L
    val sig = Seq(Seq(x)).toDF("hx")
      .select(expr("minhash_sig(hx)")).as[Seq[Long]].head()
    val expected = Dedup.minhashSeeds.map { case (a, b) =>
      (a * x + b) % graft.ext.TextOps.P }
    assert(sig == expected)
  }

  test("null elements are skipped (array_min semantics)") {
    val sig = Seq(Seq[java.lang.Long](7L, null)).toDF("hx")
      .select(expr("minhash_sig(hx)")).as[Seq[java.lang.Long]].head()
    val direct = Seq(Seq[java.lang.Long](7L)).toDF("hx")
      .select(expr("minhash_sig(hx)")).as[Seq[java.lang.Long]].head()
    assert(sig == direct)
    val allNull = Seq(Seq[java.lang.Long](null)).toDF("hx")
      .select(expr("minhash_sig(hx)")).as[Seq[java.lang.Long]].head()
    assert(allNull.forall(_ == null))
  }
}
