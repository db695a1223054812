package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

  test("encode: m codes per vector, every code a valid codebook id") {
    val cb = Pq.train(emb, m = 8, k = 16, iters = 1)
    val codes = Pq.encode(emb, cb).as[(Long, Seq[Int])].collect()
    assert(codes.length == emb.count())
    codes.foreach { case (_, cs) =>
      assert(cs.length == 8)
      assert(cs.forall(c => c >= 0 && c < 16))
    }
    // deterministic: same seed order, same codes
    val again = Pq.encode(emb, cb).as[(Long, Seq[Int])].collect()
    assert(codes.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("training reduces quantization error vs the k=1 (global mean) baseline") {
    def mse(cb: Pq.Codebooks): Double = {
      val subs = Pq.subvectors(emb, cb.m, cb.subDim)
      Pq.assign(subs, cb)
        .join(subs, Seq("vec_id", "sub"))
        .join(broadcast(cb.cents.toDF("sub", "cid", "cvec")), Seq("sub", "cid"))
        .select(aggregate(
          zip_with(col("svec"), col("cvec"),
            (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
          lit(0.0d), _ + _).as("e"))
        .agg(avg(col("e"))).head().getDouble(0)
    }
    val rich = Pq.train(emb, m = 8, k = 16, iters = 2)
    val flat = Pq.train(emb, m = 8, k = 1, iters = 2)
    assert(mse(rich) < mse(flat) * 0.8,
      s"16-centroid codebooks should beat the mean baseline: ${mse(rich)} vs ${mse(flat)}")
  }

  test("ADC shortlist at 32x compression captures most exact neighbors for re-rank") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.topKBrute(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val cb = Pq.train(emb, m = 8, k = 16, iters = 2)
    // the production PQ shape: codes prune the corpus to a shortlist
    // (here 10%), exact distances re-rank only the shortlist
    val shortlist = Pq.topKAdc(emb, queries, 50, cb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & shortlist).size.toDouble / exact.size
    assert(recall >= 0.6, s"PQ shortlist recall $recall too low")
    // direct ADC top-5 is intentionally NOT asserted high — at 32x
    // compression the codes order the true neighbors into the head of
    // the list, not to exact rank
  }

  test("a non-dense codebook is rejected when Codebooks is constructed") {
    val v = Seq(1.0f)
    // a missing subspace, a gap in the codes, a non-uniform k
    Seq(Seq((0, 0, v)),
        Seq((0, 0, v), (0, 2, v), (1, 0, v), (1, 1, v)),
        Seq((0, 0, v), (0, 1, v), (1, 0, v)))
      .foreach { cents =>
        intercept[IllegalArgumentException](Pq.Codebooks(2, 1, cents))
      }
    assert(Pq.Codebooks(2, 1, Seq((1, 0, v), (0, 0, v))).entries ==
      Seq(Seq(Seq(1.0)), Seq(Seq(1.0))))
  }

  test("a corpus-sized codebook (m*k = 1600) re-ranks to exactly brute force") {
    // the q_cosine_pq_exact shape: every subvector is its own centroid,
    // so ADC equals the exact dot and a full shortlist passes all
    val e = emb.filter(col("vec_id") < 200)
    val queries = e.filter(col("vec_id") < 10)
    val cb = Pq.train(e, m = 8, k = 200, iters = 0)
    assert(cb.cents.size == 1600)
    val got = Pq.topKRerank(e, queries, 5, cb, shortlist = 201)
      .orderBy("query_id", "rnk").collect().toSeq
    val want = Similarity.topKBrute(e, queries, 5)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(got.length == 50)
    assert(got == want)
  }
}
