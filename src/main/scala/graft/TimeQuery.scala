package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.queries.Spool

/** Dev tool: per-query wall time and job count, without running the
  * whole bench suite. Each query gets a warm-up evaluation and two timed
  * ones; the wall is the faster pass. The per-query fixed-overhead floor
  * is made of driver-blocking actions (eager checkpoints, collects,
  * commits), each one a Spark job, so the count ranks queries by barrier
  * pressure. One adaptive query stage can race and add a job to an
  * evaluation, so when the two timed counts differ the line reads
  * `jobs=8-9`. `spool=` is the time the untimed warm-up spent building
  * the query's fixture spools ([[graft.queries.Spool]]): the first-run
  * cost that the timed passes never see. Before the first query, `main`
  * evaluates [[WarmQuery]] once, untimed, so the first row's `spool=`
  * does not carry the JVM's cold start. With no names it covers every
  * query and adds a total line.
  * `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.TimeQuery [q_x ...]"` */
object TimeQuery {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val all = args.isEmpty
    val names = if (all) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    requireKnown(names)
    val spark = Sessions.build(Sessions.cpusFromEnv, "graft-time-query")
    spark.sparkContext.setLogLevel("ERROR")
    Bench.materialize(SparkEntry.queries(WarmQuery)(spark, sfDir))
    val rows = profile(spark, sfDir, names)
    rows.foreach(r => println(line(r)))
    if (all)
      println(f"TIME_TOTAL queries=${rows.size} jobs=${range(rows.map(_.jobs).sum,
        rows.map(_.maxJobs).sum)} wall=${rows.map(_.wallS).sum}%.2f s " +
        f"spool=${rows.map(_.spoolS).sum}%.2f")
    spark.stop()
  }

  /** `TIME q 0.12 s jobs=7 spool=0.00`, or `jobs=7-8` when the two
    * timed evaluations counted different jobs. */
  def line(r: Timing): String =
    f"TIME ${r.name} ${r.wallS}%.2f s jobs=${range(r.jobs, r.maxJobs)} spool=${r.spoolS}%.2f"

  private def range(lo: Long, hi: Long): String = if (lo == hi) s"$lo" else s"$lo-$hi"

  private def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }

  /** The JVM warm-up query: it reads one table and builds no spool. */
  private val WarmQuery = "q_agg_pricing"

  /** One query's profile: the smaller and the larger job count of the
    * two timed evaluations, the faster timed wall, and the spool build
    * seconds of its warm-up. */
  final case class Timing(name: String, jobs: Long, maxJobs: Long, wallS: Double,
      spoolS: Double)

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
      Timing(name, passes.map(_._1).min, passes.map(_._1).max, passes.map(_._2).min, spool)
    } finally sc.removeSparkListener(listener)
  }
}
