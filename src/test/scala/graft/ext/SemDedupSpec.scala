package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.queries.Spool

class SemDedupSpec extends AnyFunSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixture = {
    val e = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val pert = e.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") * lit(1.01d)).cast("float")).as("embedding"))
    (e, e.unionByName(pert))
  }

  test("planted scaled copies are dropped, originals kept, witnesses valid") {
    val (e, base) = fixture
    val nOrig = e.count()
    val out = SemDedup.dedup(base, nLists = 8, tau = 0.9).collect()
    assert(out.length == nOrig + 20)
    val dropped = out.filter(!_.getAs[Boolean]("kept"))
    assert(dropped.map(_.getAs[Long]("vec_id")).sorted.toSeq ==
      (0L until 20L).map(_ + 10000),
      "exactly the planted copies must be duplicates")
    // every witness is a smaller id in the SAME cluster (policy shape)
    val cidOf = out.map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Int]("cid")).toMap
    dropped.foreach { r =>
      val w = r.getAs[Long]("dup_of")
      assert(w >= 0 && w < r.getAs[Long]("vec_id"))
      assert(cidOf(w) == r.getAs[Int]("cid"),
        s"witness $w must share vec ${r.get(0)}'s cluster")
    }
    // kept rows carry the -1 sentinel
    assert(out.filter(_.getAs[Boolean]("kept"))
      .forall(_.getAs[Long]("dup_of") == -1L))
  }

  test("a vector and its scaled copy land in the same cluster (quantized-cosine assignment)") {
    val (_, base) = fixture
    val out = SemDedup.dedup(base, nLists = 8, tau = 0.9)
      .select(col("vec_id"), col("cid")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cid")).toMap
    (0L until 20L).foreach { v =>
      assert(out(v) == out(v + 10000),
        s"copy of $v must share its cluster (got ${out(v)} vs ${out(v + 10000)})")
    }
  }

  test("deterministic across runs; centroid side is a bounded broadcast") {
    val (_, base) = fixture
    val d1 = SemDedup.dedup(base, nLists = 8, tau = 0.9)
    val d2 = SemDedup.dedup(base, nLists = 8, tau = 0.9)
    assert(d1.orderBy("vec_id").collect().toSeq ==
      d2.orderBy("vec_id").collect().toSeq)
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    val bcasts = collectWithSubqueries(d1.queryExecution.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(bcasts.nonEmpty, "the centroid cross join must broadcast:\n" +
      d1.queryExecution.executedPlan)
  }

  test("dedupWithIndex: a persisted IVF index's lists drive the verdicts; planted copies still drop") {
    val (e, base) = fixture
    val dir = Spool.dir("semivf") + "/idx"
    Ivf.buildSavedIndex(base, dir, nLists = 8, iters = 0)
    val out = SemDedup.dedupWithIndex(base, dir, tau = 0.9).collect()
    assert(out.length == base.count(), "every indexed vector gets a verdict")
    // positive scaling preserves a float-dot argmax: each copy shares
    // its original's index cluster, so the copies still drop
    assert(out.filter(!_.getAs[Boolean]("kept"))
      .map(_.getAs[Long]("vec_id")).sorted.toSeq ==
      (0L until 20L).map(_ + 10000))
    // the clusters really are the INDEX's, not a re-assignment
    val listCid = graft.land.AtomicLanding.read(spark, s"$dir/lists")
      .select(col("neighbor_id").as("vec_id"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach(r => assert(
      listCid(r.getAs[Long]("vec_id")) == r.getAs[Int]("cid")))
  }

  test("tau = 1.0 keeps everything except exact code collisions; tau <= -1 drops all but cluster minima") {
    val (e, _) = fixture
    // no planted copies: nothing should cross tau = 0.9 (fixture max
    // pairwise cosine ~0.5 — and quantization preserves that headroom)
    val clean = SemDedup.dedup(e, nLists = 8, tau = 0.9)
    assert(clean.where(!col("kept")).count() == 0)
    // tau below the sentinel floor: every non-minimal vector in each
    // cluster becomes a duplicate of the cluster minimum
    val all = SemDedup.dedup(e, nLists = 8, tau = -3.0)
    val perCluster = all.groupBy("cid")
      .agg(count(lit(1)).as("n"), sum(when(col("kept"), 1L).otherwise(0L)).as("nk"),
        min(col("vec_id")).as("mn"))
      .collect()
    perCluster.foreach { r =>
      assert(r.getAs[Long]("nk") == 1L, "exactly the minimum survives")
    }
    val witnessOk = all.where(!col("kept"))
      .join(all.groupBy("cid").agg(min(col("vec_id")).as("mn")), "cid")
      .where(col("dup_of") =!= col("mn")).count()
    assert(witnessOk == 0, "the witness must be the cluster minimum")
  }
}
