package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Row count and order-independent fingerprint of a result in one pass.
  * The fingerprint is `graft.Bench.materialize`'s: the XOR of every
  * row's hash, so every projected column is evaluated. */
object Fingerprint {
  final case class Result(rows: Long, fp: Long)

  def of(df: DataFrame): Result = {
    val (n, fp) = df.queryExecution.toRdd
      .mapPartitions { it =>
        var acc = 0L
        var c = 0L
        while (it.hasNext) { acc ^= it.next().hashCode().toLong; c += 1 }
        Iterator.single((c, acc))
      }
      .fold((0L, 0L)) { case ((c1, a1), (c2, a2)) => (c1 + c2, a1 ^ a2) }
    Result(n, fp)
  }
}

/** Runs and times the operations of a workload: each starts with an
  * empty session cache, is traced as a span of its layer, and is checked
  * after its clock stops. A throw or a wrong output counts as failed.
  * The benchmark's own work inside the timed phase (cache bookkeeping,
  * input generation, output checks) runs `aside`: it is traced under the
  * layer `aside` and left out of `run_s`. */
final class Recorder(spark: SparkSession, tracer: Tracer,
    expected: Map[String, Fingerprint.Result] = Map.empty, record: Boolean = false,
    /** Results seen so far in this run, by key: a repeat must reproduce them. */
    val seen: mutable.Map[String, Fingerprint.Result] = mutable.Map.empty) {
  val ops: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  /** Every timed call, by name, in order. */
  val byName: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  /** The same calls' `Steal.perCpuS` while they ran. */
  val stolen: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  val reads: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val cacheLeft: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  var attempted = 0
  var rows = 0L
  var planNs = 0L
  /** Wall time spent `aside`, to subtract from the timed phase. */
  var asideNs = 0L

  private def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** The benchmark's own work: not part of any op, and not of `run_s`. */
  def aside[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(Recorder.Aside, name)(body)
    finally asideNs += System.nanoTime() - t0
  }

  private def timed[T](layer: String, name: String, into: mutable.ArrayBuffer[Double])(
      body: => T)(check: T => Option[String]): Option[T] = {
    val before = aside("clearCache") {
      spark.catalog.clearCache()
      if (tracer.enabled) cachedBytes() else 0L
    }
    attempted += 1
    val s0 = Steal.perCpuS()
    val t0 = System.nanoTime()
    val res = Try(tracer.span(layer, name)(body))
    val dt = (System.nanoTime() - t0) / 1e9
    into += dt
    byName.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
    stolen.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += Steal.perCpuS() - s0
    aside(s"check $name") {
      if (tracer.enabled) cacheLeft(layer) += cachedBytes() - before
      res match {
        case Failure(e) =>
          failures += s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
        case Success(v) => check(v) match {
          case Some(why) => failures += s"$name: $why"; None
          case None => Some(v)
        }
      }
    }
  }

  /** A unit operation of the workload: counts toward ops_per_s. */
  def op[T](layer: String, name: String)(body: => T)(check: T => Option[String]): Option[T] =
    timed(layer, name, ops)(body)(check)

  /** A downstream read: its latency counts toward read_p50_s. */
  def read[T](layer: String, name: String)(body: => T)(check: T => Option[String]): Option[T] =
    timed(layer, name, reads)(body)(check)

  /** Evaluate a DataFrame-returning call as one op and compare its
    * result with the recorded one. The planning time of the top-level
    * query is added to the trace (it never reaches a listener). */
  def dfOp(layer: String, name: String, key: String)(
      df: => DataFrame): Option[Fingerprint.Result] =
    op(layer, name) {
      val d = df
      val r = Fingerprint.of(d)
      if (tracer.enabled)
        planNs += d.queryExecution.tracker.phases.values.map(_.durationMs).sum * 1000000L
      r
    } { r =>
      val prior = seen.put(key, r)
      expected.get(key) match {
        case _ if prior.exists(_ != r) => Some(s"result $r, earlier in this run ${prior.get}")
        case _ if record => None
        case None => Some(s"no recorded result for $key")
        case Some(e) if e != r => Some(s"result $r, recorded $e")
        case _ => None
      }
    }
}

/** CPU time the hypervisor gave to other guests while this machine's
  * CPUs had work ("steal" in /proc/stat): on a shared host, time in
  * which no code of this machine ran. */
object Steal {
  private val stat = java.nio.file.Paths.get("/proc/stat")

  private def cpuLines: Seq[String] =
    if (!java.nio.file.Files.isReadable(stat)) Nil
    else java.nio.file.Files.readAllLines(stat).asScala.toSeq.takeWhile(_.startsWith("cpu"))

  private val cpus = math.max(1, cpuLines.size - 1)

  /** Stolen seconds since boot, per CPU: what one thread loses on average. */
  def perCpuS(): Double = cpuLines.headOption.map(_.trim.split("\\s+")) match {
    case Some(f) if f.length > 8 => f(8).toDouble / 100.0 / cpus // USER_HZ ticks
    case _ => 0.0
  }
}

object Recorder {
  /** The layer of the benchmark's own work inside the timed phase. */
  val Aside = "aside"
}

/** A benchmark workload: set up fresh inputs (repeatable), warm up, then
  * run steps until the time is up. */
trait Workload {
  /** Build fresh inputs; the last call's inputs are the ones the run uses. */
  def setUp(rep: Int): Unit
  def warmUp(r: Recorder): Unit
  /** Untimed warm-up steps before the timed phase: the JIT and the
    * engine's code generator keep getting faster over a run's first steps. */
  def warmSteps: Int
  /** One cycle or pass; its input generation runs `r.aside`. */
  def step(r: Recorder): Unit
  /** The fewest steps a timed phase runs, however long they take. Each
    * step runs a little faster than the one before, so a slow run that
    * stopped after fewer steps would also read slower for timing only
    * the earlier ones. */
  def minSteps: Int
  /** Untimed checks and the workload's own end-to-end metrics. */
  def finish(r: Recorder): Map[String, Double]
}
