package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.queries.Spool

/** Dev tool: per-query wall time and job count, without running the
  * whole bench suite. Each query gets a warm-up evaluation and two timed
  * ones; the wall is the faster pass, the job count that of one
  * evaluation. The per-query fixed-overhead floor is made of
  * driver-blocking actions (eager checkpoints, collects, commits), each
  * one a Spark job, so the count ranks queries by barrier pressure.
  * `spool=` is the time the untimed warm-up spent building the query's
  * fixture spools ([[graft.queries.Spool]]): the first-run cost that the
  * timed passes never see. With no names it covers every query and adds
  * a total line.
  * `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.TimeQuery [q_x ...]"` */
object TimeQuery {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val all = args.isEmpty
    val names = if (all) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    requireKnown(names)
    val spark = Sessions.build(Sessions.cpusFromEnv, "graft-time-query")
    spark.sparkContext.setLogLevel("ERROR")
    val rows = profile(spark, sfDir, names)
    rows.foreach(r =>
      println(f"TIME ${r.name} ${r.wallS}%.2f s jobs=${r.jobs} spool=${r.spoolS}%.2f"))
    if (all)
      println(f"TIME_TOTAL queries=${rows.size} jobs=${rows.map(_.jobs).sum} " +
        f"wall=${rows.map(_.wallS).sum}%.2f s spool=${rows.map(_.spoolS).sum}%.2f")
    spark.stop()
  }

  private def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }

  /** One query's profile: jobs of one evaluation, the faster timed wall,
    * and the spool build seconds of its warm-up. */
  final case class Timing(name: String, jobs: Long, wallS: Double, spoolS: Double)

  /** One [[Timing]] per query, in the order given; names that are not
    * coverage queries fail before any query runs. */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Timing] = {
    requireKnown(names)
    val qs = SparkEntry.queries
    val sc = spark.sparkContext
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try names.map { name =>
      val fn = qs(name)
      val spool0 = Spool.buildSeconds
      Bench.materialize(fn(spark, sfDir)) // warm-up
      val spool = Spool.buildSeconds - spool0
      val passes = (1 to 2).map { _ =>
        GraftListenerBus.drain(sc)
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        Bench.materialize(fn(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        GraftListenerBus.drain(sc)
        (jobs.get() - j0, wall)
      }
      Timing(name, passes.head._1, passes.map(_._2).min, spool)
    } finally sc.removeSparkListener(listener)
  }
}
