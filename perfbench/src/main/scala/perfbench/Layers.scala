package perfbench

/** The per-layer table of a traced run, computed from its spans, jobs
  * and attributed counters. `L.self_s` is the time of L's spans minus
  * the time their child spans cover; `L.driver_s` is the part of that
  * self time during which no Spark job was running. */
object Layers {

  final case class Row(calls: Int = 0, selfNs: Long = 0, driverNs: Long = 0,
      jobs: Long = 0, tasks: Long = 0, taskCpuNs: Long = 0, shuffleBytes: Long = 0,
      spillBytes: Long = 0, fsWriteOps: Long = 0, fsReadOps: Long = 0,
      fsBytesWritten: Long = 0, codegenNs: Long = 0, fallbacks: Long = 0)

  def selfIntervals(s: Span, all: Seq[Span]): List[Stats.Iv] =
    Stats.subtract(Seq((s.start, s.end)),
      all.filter(_.parent == s.id).map(c => (c.start, c.end)))

  def table(spans: Seq[Span], jobs: Seq[JobRec], counters: Long => Counters): Map[String, Row] = {
    val jobIvs = jobs.map(j => (j.start, j.end))
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.foldLeft(Row()) { (r, s) =>
        val self = selfIntervals(s, spans)
        val c = counters(s.id)
        Row(r.calls + 1, r.selfNs + Stats.length(self),
          r.driverNs + Stats.length(Stats.subtract(self, jobIvs)),
          r.jobs + c.jobs, r.tasks + c.tasks, r.taskCpuNs + c.taskCpuNs,
          r.shuffleBytes + c.shuffleBytes, r.spillBytes + c.spillBytes,
          r.fsWriteOps + c.fsWriteOps, r.fsReadOps + c.fsReadOps,
          r.fsBytesWritten + c.fsBytesWritten, r.codegenNs + c.codegenNs,
          r.fallbacks + c.codegenFallbacks)
      }
    }
  }

  /** Job time with no task of that job running: stage barriers,
    * scheduling and result handling. */
  def schedWaitNs(jobs: Seq[JobRec]): Long = jobs.map { j =>
    Stats.length(Stats.subtract(Seq((j.start, j.end)), j.taskIvs))
  }.sum
}
