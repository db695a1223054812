package graft

import org.scalatest.funsuite.AnyFunSuite

/** The per-query profiler: job counts come from one drained listener, so
  * repeated calls on one session count the same jobs. */
class TimeQuerySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val names = Seq("q_agg_pricing", "q_pagerank_converged", "q_stream_window")

  test("profile counts every query's jobs, the same on a repeated call") {
    val first = TimeQuery.profile(spark, TestSpark.Sf0001, names)
    val second = TimeQuery.profile(spark, TestSpark.Sf0001, names)
    assert(first.map(_.name) == names)
    assert(first.forall(r => r.jobs > 0 && r.wallS > 0), first)
    assert(first.map(_.jobs) == second.map(_.jobs))
  }

  test("a warm-up that finds its spools built charges no spool time") {
    TimeQuery.profile(spark, TestSpark.Sf0001, Seq("q_stream_window"))
    val again = TimeQuery.profile(spark, TestSpark.Sf0001, Seq("q_stream_window"))
    assert(again.map(_.spoolS) == Seq(0.0))
  }

  test("an unknown query name is refused, and the message names it") {
    val e = intercept[IllegalArgumentException](
      TimeQuery.profile(spark, TestSpark.Sf0001, Seq("q_agg_pricing", "q_no_such")))
    assert(e.getMessage.contains("q_no_such"))
    assert(!e.getMessage.contains("q_agg_pricing"))
  }

  test("a TIME line reads the job range when the two timed evaluations differ") {
    val r = TimeQuery.profile(spark, TestSpark.Sf0001, Seq("q_agg_pricing")).head
    assert(r.jobs > 0 && r.jobs <= r.maxJobs, r)
    assert(TimeQuery.line(TimeQuery.Timing("q_sessions", 8, 9, 1.234, 0.5)) ==
      "TIME q_sessions 1.23 s jobs=8-9 spool=0.50")
    assert(TimeQuery.line(TimeQuery.Timing("q_sessions", 8, 8, 1.234, 0.0)) ==
      "TIME q_sessions 1.23 s jobs=8 spool=0.00")
  }

  test("a TIME line ends with the warm-up's and the timed evaluations' compiles") {
    val r = TimeQuery.profile(spark, TestSpark.Sf0001, Seq("q_stream_window")).head
    assert(r.cold.exists(c => c.count >= 0 && c.seconds >= 0), r)
    // each evaluation starts a new streaming query; its classes are
    // already in the codegen cache
    assert(r.warm.map(_.count).contains(0L), r)
    assert(TimeQuery.line(r).endsWith(s" compiles=${r.cold.get.count}/0"))
    assert(TimeQuery.line(TimeQuery.Timing("q_sessions", 8, 9, 1.234, 0.5,
      Some(TimeQuery.Compiles(12, 0.3)), Some(TimeQuery.Compiles(2, 0.01)))) ==
      "TIME q_sessions 1.23 s jobs=8-9 spool=0.50 compiles=12/2")
  }
}
