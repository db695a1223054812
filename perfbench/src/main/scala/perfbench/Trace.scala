package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, as the benchmark saw it from outside.
  * Times are `System.nanoTime`; `parent` is 0 for a root span. */
final case class Span(id: Long, layer: String, name: String, parent: Long,
    runId: String, start: Long, end: Long)

/** Work attributed to one span: counters read at span boundaries (the
  * span open while they moved gets the delta) and Spark task metrics
  * (the span whose id the job carried gets them). */
final class Counters {
  var fsBytesWritten, fsWriteOps, fsReadOps = 0L
  var codegenNs, codegenFallbacks = 0L
  var jobs, tasks, taskCpuNs, shuffleBytes, spillBytes = 0L
}

/** A Spark job: the span that started it, its wall interval (nanoTime
  * domain) and the intervals its tasks ran in. */
final case class JobRec(id: Int, span: Long, start: Long, end: Long,
    taskIvs: Seq[Stats.Iv])

/** Spans kept in memory. Until a traced run attaches it to a session,
  * `span` only runs its body, so set-up, warm-up and the untraced run
  * pay nothing for the trace. Spans are opened by the one client thread;
  * Spark listeners report into it from the bus thread. */
final class Tracer(traced: Boolean, val runId: String = "run") {
  @volatile private var on = false
  def enabled: Boolean = on
  import Tracer._

  private var nextId = 0L
  private var stack: List[(Long, String, String, Long)] = Nil // id, layer, name, start
  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.Map.empty[Long, Counters]
  private val jobStart = mutable.Map.empty[Int, (Long, Long)]       // job -> (span, start)
  private val jobTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Stats.Iv]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobsBuf = mutable.ArrayBuffer.empty[JobRec]
  private var lastGlobal: Global = Global.zero
  private var sc: Option[SparkContext] = None

  // listener event times are epoch millis; spans are nanoTime
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  def msToNs(ms: Long): Long = originNs + (ms - originMs) * 1000000L

  private val planBuf = mutable.ArrayBuffer.empty[Stats.Iv]
  var streamBatches = 0L
  var streamBatchMs = 0L

  def spans: Seq[Span] = synchronized(spansBuf.toList)
  def jobs: Seq[JobRec] = synchronized(jobsBuf.toList)
  def countersOf(id: Long): Counters = synchronized(counters.getOrElseUpdate(id, new Counters))
  /** Planning phases of the queries the listener saw, as intervals. */
  def planPhases: Seq[Stats.Iv] = synchronized(planBuf.toList)

  /** Attach to a session and start tracing: job, task, query-planning
    * and streaming listeners. Only a traced run installs them. */
  def attach(spark: SparkSession): Unit = if (traced) {
    sc = Some(spark.sparkContext)
    spark.sparkContext.addSparkListener(new SpanListener(this))
    spark.listenerManager.register(new QueryExecutionListener {
      private def add(qe: QueryExecution): Unit = Tracer.this.synchronized {
        planBuf ++= qe.tracker.phases.values.map(p => (msToNs(p.startTimeMs), msToNs(p.endTimeMs)))
      }
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Tracer.this.synchronized {
          streamBatches += 1
          streamBatchMs += e.progress.batchDuration
        }
    })
    CodegenFailures.install()
    lastGlobal = Global.read()
    on = true
  }

  /** Wait until every listener has seen every event posted so far. */
  def drain(): Unit = sc.foreach(org.apache.spark.PerfbenchAccess.drainListeners)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized {
        boundary()
        nextId += 1
        stack = (nextId, layer, name, System.nanoTime()) :: stack
        nextId
      }
      sc.foreach(_.setLocalProperty(SpanKey, id.toString))
      try body
      finally {
        val parent = synchronized {
          boundary()
          val (sid, l, n, t0) = stack.head
          stack = stack.tail
          val p = stack.headOption.map(_._1).getOrElse(0L)
          spansBuf += Span(sid, l, n, p, runId, t0, System.nanoTime())
          p
        }
        sc.foreach(_.setLocalProperty(SpanKey,
          if (parent == 0L) null else parent.toString))
      }
    }

  /** Give the counters that moved since the last boundary to the span
    * that was open meanwhile. */
  private def boundary(): Unit = {
    val now = Global.read()
    val d = now - lastGlobal
    lastGlobal = now
    val c = counters.getOrElseUpdate(stack.headOption.map(_._1).getOrElse(0L), new Counters)
    c.fsBytesWritten += d.bytesWritten
    c.fsWriteOps += d.writeOps; c.fsReadOps += d.readOps
    c.codegenNs += d.codegenNs; c.codegenFallbacks += d.fallbacks
  }

  // ---- listener callbacks (bus thread) ----
  def jobStarted(job: Int, span: Long, timeMs: Long, stages: Seq[Int]): Unit = synchronized {
    jobStart(job) = (span, msToNs(timeMs))
    jobTasks(job) = mutable.ArrayBuffer.empty
    stages.foreach(s => stageJob(s) = job)
    countersOf(span).jobs += 1
  }
  def jobEnded(job: Int, timeMs: Long): Unit = synchronized {
    jobStart.remove(job).foreach { case (span, t0) =>
      jobsBuf += JobRec(job, span, t0, msToNs(timeMs),
        jobTasks.remove(job).map(_.toList).getOrElse(Nil))
    }
  }
  def taskEnded(stage: Int, launchMs: Long, finishMs: Long, cpuNs: Long,
      shuffleBytes: Long, spillBytes: Long): Unit = synchronized {
    stageJob.get(stage).foreach { job =>
      jobTasks.get(job).foreach(_ += ((msToNs(launchMs), msToNs(finishMs))))
      jobStart.get(job).foreach { case (span, _) =>
        val c = countersOf(span)
        c.tasks += 1; c.taskCpuNs += cpuNs
        c.shuffleBytes += shuffleBytes; c.spillBytes += spillBytes
      }
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Process-wide counters the trace samples at every span boundary. */
  final case class Global(bytesWritten: Long, writeOps: Long, readOps: Long,
      codegenNs: Long, fallbacks: Long) {
    def -(o: Global): Global = Global(bytesWritten - o.bytesWritten,
      writeOps - o.writeOps, readOps - o.readOps,
      codegenNs - o.codegenNs, fallbacks - o.fallbacks)
  }
  object Global {
    val zero: Global = Global(0, 0, 0, 0, 0)
    def read(): Global = {
      import scala.jdk.CollectionConverters._
      val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .filter(_.getScheme == "file")
      Global(
        fs.map(_.getBytesWritten).sum,
        FsOps.writes.get, FsOps.reads.get,
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
        CodegenFailures.count)
    }
  }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }
}

final class SpanListener(tr: Tracer) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    tr.jobStarted(e.jobId, span, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = tr.jobEnded(e.jobId, e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tr.taskEnded(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }
}

/** Counts the engine's "Failed to compile the generated Java code"
  * errors: each one is a stage or expression that silently fell back to
  * interpreted evaluation. Hooked onto the CodeGenerator logger. */
object CodegenFailures {
  private val n = new java.util.concurrent.atomic.AtomicLong
  @volatile private var installed = false
  def count: Long = n.get()

  def install(): Unit = synchronized {
    if (!installed) {
      import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
      import org.apache.logging.log4j.core.appender.AbstractAppender
      import org.apache.logging.log4j.core.config.Property
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[LoggerContext]
      val app = new AbstractAppender("perfbench-codegen", null, null, true,
          Property.EMPTY_ARRAY) {
        def append(e: LogEvent): Unit =
          if (e.getMessage.getFormattedMessage.contains("Failed to compile")) n.incrementAndGet()
      }
      app.start()
      val cfg = ctx.getConfiguration
      cfg.getLoggerConfig(Name).addAppender(app, null, null)
      ctx.updateLoggers()
      installed = true
    }
  }
  val Name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
}
