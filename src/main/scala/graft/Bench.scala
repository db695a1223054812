package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — prints ONE JSON line with per-query wall times.
  *
  * Design (round-1 verdict fixes):
  *  - materialization XOR-folds row hashes on the executors, so every
  *    projected column is actually evaluated (`count()` would let Catalyst
  *    prune all of them) and only one long ships to the driver;
  *  - one untimed warm-up pass absorbs session/first-action startup so
  *    per-query numbers are stable run to run;
  *  - no exception swallowing: a broken query fails the bench loudly
  *    (non-zero exit) instead of posing as a fast time.
  */
object Bench {

  /** Evaluate every column of every row; return an order-independent
    * fingerprint. Runs entirely on executors. */
  def materialize(df: DataFrame): Long =
    df.queryExecution.toRdd
      .mapPartitions { it =>
        var acc = 0L
        while (it.hasNext) acc ^= it.next().hashCode().toLong
        Iterator.single(acc)
      }
      .fold(0L)(_ ^ _)

  /** Host-load sentinel: a FIXED trivial job (independent of sf and of
    * the query set) timed before warm-up and again after the last pass.
    * On a quiet host both land ~equal; a sentinel ratio far from 1 — or
    * an absolute time several× its historic ~0.1 s — flags a run whose
    * numbers are host-contamination, not code (see round-4 postmortem:
    * uniform 1.6-4× drift across even trivial queries). */
  def sentinel(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 20000000L, 1, 32)
      .selectExpr("sum(id * 3 % 7) s").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.build(Sessions.cpusFromEnv, "graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    // a SECOND sentinel with a shuffle in it: the compute sentinel
    // above is blind to IO/contention-shaped host drift (r20 final
    // boards: 7 untouched sub-second rows dual-flagged while the
    // compute sentinel ran FASTER) — a fixed one-exchange job moves
    // with exactly the drift the board's shuffle-heavy rows feel
    def sentinelShuffle(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 2000000L, 1, 32)
        .groupBy(org.apache.spark.sql.functions.expr("pmod(id, 4096)"))
        .count().selectExpr("sum(count) s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val sentFirst = { sentinel(spark); sentinel(spark) } // its own warm-up, then timed
    val sentShFirst = { sentinelShuffle(); sentinelShuffle() }

    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
    qs.foreach { case (_, fn) => materialize(fn(spark, sfDir)) } // warm-up
    // three FULL timed passes, per-query min across passes: the host is
    // shared and stalls span minutes, so back-to-back reps of one query
    // all land in the same stall — whole-suite passes decorrelate it
    def pass(): Map[String, Double] = qs.map { case (name, fn) =>
      val t0 = System.nanoTime()
      materialize(fn(spark, sfDir))
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap
    val passes = Seq(pass(), pass(), pass())
    val results = qs.map { case (name, _) =>
      name -> passes.map(_(name)).min }
    val sentLast = sentinel(spark)
    val sentShLast = sentinelShuffle()

    val qJson = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qJson,"sf":"$sfDir","sentinel_first_sec":$sentFirst,"sentinel_last_sec":$sentLast,"sentinel_shuffle_first_sec":$sentShFirst,"sentinel_shuffle_last_sec":$sentShLast}""")
    spark.stop()
  }
}
