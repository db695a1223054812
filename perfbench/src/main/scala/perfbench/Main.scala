package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/** The benchmark's entry point (normally started by `perfbench/run.py`):
  *
  * {{{
  * perfbench.Main --workload <ingest_cycles|ops_small> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --cores <n>
  *   [--expected <tsv>] [--record <tsv>]
  * }}}
  *
  * One client thread runs a closed loop with no think time on
  * local[cores]. Set-up runs `SetupReps` times on fresh inputs and
  * reports the median; then the workload's untimed warm-up steps; then steps until
  * `--seconds` of run time have passed (always whole steps, and at least
  * the workload's `minSteps`). Run time is
  * the timed phase's wall time less the benchmark's own work in it
  * (`Recorder.aside`). The last stdout line is the result object; the
  * `REPORT` line is the full report. */
object Main {

  val SetupReps = 3
  val Workloads: Seq[String] = Seq("ingest_cycles", "ops_small")

  /** End-to-end metrics of the result line (tracing off), with units.
    * `op_p50_s` stays in the report only: a run's few ops fall into
    * distinct latency clusters, and the median hops between them. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "ops_per_s" -> "1/s")

  /** Per-layer metrics of the result line (tracing on), with units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "bench.self_s" -> "s", "bench.run_s" -> "s",
    "app.self_s" -> "s", "app.driver_s" -> "s", "app.jobs" -> "count",
    "catalog.calls" -> "count", "catalog.self_s" -> "s",
    "ingest.self_s" -> "s", "ingest.rows" -> "count",
    "files.calls" -> "count", "files.self_s" -> "s",
    "land.read_s" -> "s", "land.fs_write_ops" -> "count", "land.fs_read_ops" -> "count",
    "land.bytes_written_per_input_byte" -> "ratio", "land.live_dirs" -> "count",
    "ext.self_s" -> "s", "ext.jobs" -> "count", "ext.task_cpu_s" -> "s",
    "ext.shuffle_bytes" -> "bytes", "ext.spill_bytes" -> "bytes",
    "ext.cache_left_bytes" -> "bytes",
    "queries.jobs" -> "count", "queries.driver_s" -> "s", "queries.self_s" -> "s",
    "stream.batches" -> "count", "stream.batch_s" -> "s",
    "spark.plan_s" -> "s", "spark.codegen_compile_s" -> "s",
    "spark.codegen_fallbacks" -> "count", "spark.sched_wait_s" -> "s",
    "spark.tasks" -> "count", "jvm.gc_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, cores: Int, expected: Option[String], record: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("work"), m.getOrElse("cores", "4").toInt, m.get("expected"), m.get("record"))
  }

  def readExpected(path: String): Map[String, Fingerprint.Result] =
    if (!new File(path).exists()) Map.empty
    else new String(Files.readAllBytes(Paths.get(path)), UTF_8).linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(k, n, fp) = l.split("\t")
        k -> Fingerprint.Result(n.toLong, fp.toLong)
      }.toMap

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val born = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"perfbench: $what at ${secs(born)}%.2f s")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.work).mkdirs()
    val tracer = new Tracer(a.trace, s"${a.workload}-${a.seed}")

    val t0 = System.nanoTime()
    val spark = graft.Sessions.build(a.cores, s"perfbench-${a.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)
    phase("session built")

    val expected = a.expected.map(readExpected).getOrElse(Map.empty)
    val w: Workload = a.workload match {
      case "ingest_cycles" => new IngestCycles(spark, a.work, a.seed, tracer)
      case "ops_small" => new OpsSmall(spark, a.work, a.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val reps = (0 until SetupReps).map { k => val t = System.nanoTime(); w.setUp(k); secs(t) }
    val warm = new Recorder(spark, tracer, expected, a.record.isDefined)
    val warmS = (0 until w.warmSteps).map { _ => val t = System.nanoTime(); w.warmUp(warm); secs(t) }
    val setupS = sessionS + Stats.median(reps) + warmS.sum
    phase("set-up and warm-up done")

    // ---- timed phase ----
    val r = new Recorder(spark, tracer, expected, a.record.isDefined, warm.seen)
    tracer.attach(spark)
    val gc0 = Tracer.gcMillis()
    val steal0 = Steal.perCpuS()
    val tr = System.nanoTime()
    def runNow = secs(tr) - r.asideNs / 1e9
    val steps = scala.collection.mutable.ArrayBuffer.empty[Double] // run time of each step
    tracer.span("bench", "run") {
      while (runNow < a.seconds || steps.size < w.minSteps) {
        val t0 = runNow
        w.step(r)
        steps += runNow - t0
      }
    }
    val wallS = secs(tr)
    val stealFrac = (Steal.perCpuS() - steal0) / wallS
    val asideS = r.asideNs / 1e9
    val runS = wallS - asideS
    val gcS = (Tracer.gcMillis() - gc0) / 1000.0
    phase("timed phase done")
    val extra = w.finish(r)
    tracer.drain()
    phase("checks done")

    val attempted = warm.attempted + r.attempted
    val failures = warm.failures ++ r.failures
    failures.foreach(f => System.err.println(s"FAILED $f"))
    a.record.foreach { p =>
      val lines = (readExpected(p) ++ r.seen).toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k\t${v.rows}\t${v.fp}" }
      Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
      Files.write(Paths.get(p), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }

    // from each op's (and read's) median latency, less the CPU time
    // the hypervisor stole while it ran
    val opsPerS = Stats.opsPerS(r.ops.size.toDouble / steps.size,
      r.byName.map { case (k, v) => v.toSeq.zip(r.stolen(k)) })
    // a "tail" below the median is no tail: report none
    val tail = Stats.tail(r.ops.toSeq).filter(_.pct >= 50)
    val report = new java.util.LinkedHashMap[String, Any]()
    Seq[(String, Any)](
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores, "clients" -> 1,
      "traced" -> a.trace,
      "setup_s" -> setupS, "setup_reps_s" -> reps.asJava, "session_s" -> sessionS,
      "warm_s" -> warmS.asJava,
      "run_s" -> runS, "aside_s" -> asideS, "ops" -> r.ops.size,
      "step_s" -> steps.asJava,
      "rows_per_s" -> r.rows / runS, "ops_per_s" -> opsPerS,
      "ops_per_run_s" -> r.ops.size / runS,
      "op_p50_s" -> Stats.median(r.ops.toSeq),
      "op_tail_s" -> tail.map(_.value).orNull,
      "op_tail_pct" -> tail.map(_.pct).orNull, "op_tail_beyond" -> tail.map(_.beyond).orNull,
      "read_p50_s" -> (if (r.reads.isEmpty) null else Stats.median(r.reads.toSeq)),
      "read_samples" -> r.reads.size,
      "failed_frac" -> failures.size.toDouble / attempted, "attempted" -> attempted,
      "op_median_s" -> obj(r.byName.toSeq.map { case (k, v) => k -> Stats.median(v.toSeq) }),
      "op_s" -> obj(r.byName.toSeq.map { case (k, v) => k -> v.asJava }),
      "op_stolen_s" -> obj(r.stolen.toSeq.map { case (k, v) => k -> v.asJava }),
      "steal_frac" -> stealFrac
    ).foreach { case (k, v) => report.put(k, v) }
    extra.foreach { case (k, v) => if (!k.contains('.')) report.put(k, v) }
    println("REPORT " + Json.writeValueAsString(report))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) EndToEnd.map { case (k, u) => (k, report.get(k).asInstanceOf[Double], u) }
      else {
        val layers = perLayer(tracer, r, extra, runS, gcS)
        PerLayer.foreach { case (k, _) => println(f"LAYER $k%-36s ${layers(k)}%.6f") }
        PerLayer.map { case (k, u) => (k, layers(k), u) }
      }
    println(Json.writeValueAsString(obj(Seq("correct" -> failures.isEmpty,
      "attempted" -> attempted, "failed" -> failures.size,
      "metrics" -> obj(metrics.map { case (k, v, u) => k -> obj(Seq("value" -> v, "unit" -> u)) })))))
    spark.stop()
    phase("session stopped")
  }

  def perLayer(t: Tracer, r: Recorder, extra: Map[String, Double], runS: Double,
      gcS: Double): Map[String, Double] = {
    val spans = t.spans
    val jobs = t.jobs
    val tab = Layers.table(spans, jobs, t.countersOf).withDefaultValue(Layers.Row())
    def s(ns: Long) = ns / 1e9
    val land = Seq(tab("app"), tab("land"))
    // engine totals leave out the benchmark's own work, as run_s does
    val aside = spans.filter(_.layer == Recorder.Aside)
    def inAside(ns: Long) = aside.exists(sp => ns >= sp.start && ns < sp.end)
    val all = (tab - Recorder.Aside).values.toSeq
    val runJobs = jobs.filterNot(j => aside.exists(_.id == j.span))
    val planNs = t.planPhases.filterNot(p => inAside(p._1)).map { case (a, b) => b - a }.sum
    Map(
      "bench.self_s" -> s(tab("bench").selfNs), "bench.run_s" -> runS,
      "app.self_s" -> s(tab("app").selfNs), "app.driver_s" -> s(tab("app").driverNs),
      "app.jobs" -> tab("app").jobs.toDouble,
      "catalog.calls" -> tab("catalog").calls.toDouble,
      "catalog.self_s" -> s(tab("catalog").selfNs),
      "ingest.self_s" -> s(tab("ingest").selfNs),
      "ingest.rows" -> extra.getOrElse("ingest.rows", 0.0),
      "files.calls" -> tab("files").calls.toDouble, "files.self_s" -> s(tab("files").selfNs),
      "land.read_s" -> r.reads.sum,
      "land.fs_write_ops" -> land.map(_.fsWriteOps).sum.toDouble,
      "land.fs_read_ops" -> land.map(_.fsReadOps).sum.toDouble,
      "land.bytes_written_per_input_byte" -> extra.get("input_bytes_once")
        .map(land.map(_.fsBytesWritten).sum / _).getOrElse(0.0),
      "land.live_dirs" -> extra.getOrElse("land.live_dirs", 0.0),
      "ext.self_s" -> s(tab("ext").selfNs), "ext.jobs" -> tab("ext").jobs.toDouble,
      "ext.task_cpu_s" -> s(tab("ext").taskCpuNs),
      "ext.shuffle_bytes" -> tab("ext").shuffleBytes.toDouble,
      "ext.spill_bytes" -> tab("ext").spillBytes.toDouble,
      "ext.cache_left_bytes" -> r.cacheLeft("ext").toDouble,
      "queries.jobs" -> tab("queries").jobs.toDouble,
      "queries.driver_s" -> s(tab("queries").driverNs),
      "queries.self_s" -> s(tab("queries").selfNs),
      "stream.batches" -> t.streamBatches.toDouble, "stream.batch_s" -> t.streamBatchMs / 1000.0,
      "spark.plan_s" -> s(planNs + r.planNs),
      "spark.codegen_compile_s" -> s(all.map(_.codegenNs).sum),
      "spark.codegen_fallbacks" -> all.map(_.fallbacks).sum.toDouble,
      "spark.sched_wait_s" -> s(Layers.schedWaitNs(runJobs)),
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "jvm.gc_s" -> gcS)
  }

  /** A JSON object with its keys in the given order. */
  def obj(kv: Seq[(String, Any)]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  val Json = new ObjectMapper()
}
