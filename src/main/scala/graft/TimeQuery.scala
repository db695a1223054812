package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

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
  * cost that the timed passes never see. `compiles=<cold>/<warm>` counts
  * the classes Janino compiled during the warm-up and during the two
  * timed evaluations: a plan shape compiles once per JVM, so a warm count
  * above 0 names a query whose generated source changes per evaluation
  * or whose classes fell out of the codegen cache. Before the first
  * query, `main` evaluates [[WarmQuery]] once, untimed, so the first
  * row's `spool=` and cold compiles do not carry the JVM's cold start.
  * With no names it covers every query and adds a total line.
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
    if (all) {
      val (cold, warm) = (sum(rows.flatMap(_.cold)), sum(rows.flatMap(_.warm)))
      println(f"TIME_TOTAL queries=${rows.size} jobs=${range(rows.map(_.jobs).sum,
        rows.map(_.maxJobs).sum)} wall=${rows.map(_.wallS).sum}%.2f s " +
        f"spool=${rows.map(_.spoolS).sum}%.2f " +
        f"compile_s=${cold.seconds}%.2f/${warm.seconds}%.2f compiles=${cold.count}/${warm.count}")
    }
    spark.stop()
  }

  /** `TIME q 0.12 s jobs=7 spool=0.00 compiles=12/0`, or `jobs=7-8` when
    * the two timed evaluations counted different jobs. A timing without
    * compile counts prints no `compiles=` column. */
  def line(r: Timing): String = {
    val compiles = for (c <- r.cold; w <- r.warm) yield s" compiles=${c.count}/${w.count}"
    f"TIME ${r.name} ${r.wallS}%.2f s jobs=${range(r.jobs, r.maxJobs)} " +
      f"spool=${r.spoolS}%.2f${compiles.getOrElse("")}"
  }

  private def sum(cs: Seq[Compiles]): Compiles = cs.foldLeft(Compiles(0, 0))(_ + _)

  private def range(lo: Long, hi: Long): String = if (lo == hi) s"$lo" else s"$lo-$hi"

  private def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }

  /** The JVM warm-up query: it reads one table and builds no spool. */
  private val WarmQuery = "q_agg_pricing"

  /** The classes Janino compiled over some evaluations, and the seconds
    * it spent on them. */
  final case class Compiles(count: Long, seconds: Double) {
    def +(o: Compiles): Compiles = Compiles(count + o.count, seconds + o.seconds)
    def -(o: Compiles): Compiles = Compiles(count - o.count, seconds - o.seconds)
  }

  /** Spark's JVM-wide compile counters: every codegen cache miss
    * compiles once and adds to both. */
  private def compiledSoFar(): Compiles =
    Compiles(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime / 1e9)

  /** One query's profile: the smaller and the larger job count of the
    * two timed evaluations, the faster timed wall, the spool build
    * seconds of its warm-up, and the compiles of the warm-up (`cold`)
    * and of both timed evaluations (`warm`). */
  final case class Timing(name: String, jobs: Long, maxJobs: Long, wallS: Double,
      spoolS: Double, cold: Option[Compiles] = None, warm: Option[Compiles] = None)

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
      val cold0 = compiledSoFar()
      Bench.materialize(fn(spark, sfDir)) // warm-up
      val cold = compiledSoFar() - cold0
      val spool = Spool.buildSeconds - spool0
      val warm0 = compiledSoFar()
      val passes = (1 to 2).map { _ =>
        GraftListenerBus.drain(sc)
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        Bench.materialize(fn(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        GraftListenerBus.drain(sc)
        (jobs.get() - j0, wall)
      }
      Timing(name, passes.map(_._1).min, passes.map(_._1).max, passes.map(_._2).min, spool,
        Some(cold), Some(compiledSoFar() - warm0))
    } finally sc.removeSparkListener(listener)
  }
}
