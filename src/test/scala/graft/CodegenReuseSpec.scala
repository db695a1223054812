package graft

import java.util.UUID

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Dedup
import graft.queries.Spool

/** A plan shape compiles once per JVM: a second run of the same plan in
  * a new cloned session (a new streaming query, a new persist) finds
  * every generated class in Spark's codegen cache. Fails when tasks run
  * under a per-session executor class loader, which splits the cache
  * key (`spark.sql.artifact.isolation.enabled`, see `Sessions.build`). */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Janino compiles the block caused, JVM-wide. */
  private def compiles[A](body: => A): (A, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  test("an AvailableNow streaming aggregate compiles nothing when started again") {
    val in = Spool.dir("graft-codegen-stream")
    (1 to 3).foreach { b =>
      (1 to 40).map(i => (s"k${i % 4}", (b * 100 + i).toLong)).toDF("k", "v")
        .write.mode("append").parquet(in)
    }
    def run(): Map[String, Long] = {
      val name = s"codegen_reuse_${UUID.randomUUID().toString.replace("-", "")}"
      val q = spark.readStream.schema("k STRING, v BIGINT").parquet(in)
        .groupBy(col("k")).agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", Spool.dir("graft-codegen-ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      val out = spark.table(name).as[(String, Long, Long)].collect()
        .map { case (k, s, n) => assert(n == 30L, k); k -> s }.toMap
      spark.catalog.dropTempView(name)
      out
    }
    val first = run()
    val (second, n) = compiles(run())
    assert(second == first && first.size == 4)
    assert(n == 0L, s"the second streaming query compiled $n classes")
  }

  test("minhashNearDupPairs compiles nothing on a second run after clearCache") {
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    // materialized the way Bench and the benchmark harness do: an RDD
    // action outside any SQL execution, so the persisted plans' stages run
    // under the artifact state of their own CacheManager session clone. Each
    // run starts from an empty cache, as a benchmark op does: a plan
    // another suite left cached would change the first run's plan.
    def run(): Long = {
      spark.catalog.clearCache()
      Bench.materialize(Dedup.minhashNearDupPairs(docs, 0.6))
    }
    val first = run()
    val (second, n) = compiles(run())
    assert(second == first)
    assert(n == 0L, s"the second minhash run compiled $n classes")
  }
}
