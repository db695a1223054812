package graft.land

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.queries.Spool

/** Randomized-schedule exactly-once property for the landing layer —
  * the generative counterpart to AtomicLandingSpec's directed cases
  * (and to ScaleBench's 6-writer thread race): for ARBITRARY
  * interleavings of identified appends across writer channels, with
  * replays injected anywhere after their original and maintenance
  * (compaction, vacuum) mixed in, the table must hold EXACTLY one copy
  * of every issued batch and every channel's high-water mark must equal
  * its own max id — regardless of schedule shape. The r17 multi-writer
  * bug (a shared mark regressed by an out-of-order commit, reopening
  * the replay-duplicate hole) is exactly the class of defect a directed
  * suite misses and a schedule generator finds: this spec would have
  * caught it on the first cross-channel interleave it drew.
  *
  * The ops go through [[AtomicLanding.streamSink]] — the EXACTLY-ONCE
  * layer. Raw `commit(batchId = ...)` deliberately appends
  * unconditionally (rewrites pass the live mark to CARRY it; skipping
  * there would no-op every compaction), so the replay guard is the
  * sink's: this spec gates the sink+marks+maintenance contract
  * end-to-end, per channel.
  *
  * Schedules are single-threaded (ordering bugs, not races — the CAS
  * race is covered by the optimistic-concurrency test and the
  * ScaleBench multi-writer leg) and per-channel ids are issued in
  * increasing order, which is the documented contract: batch ids are
  * only comparable within one issuer's monotone sequence. */
class LandingInterleavePropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private sealed trait Op
  private case class App(ch: String, id: Long) extends Op
  private case class Replay(ch: String, id: Long) extends Op
  private case object Compact extends Op
  private case object Vac extends Op

  /** Deterministic 3-row payload per (channel, id) — a replay carries
    * the same bytes, like a re-fired micro-batch. */
  private def payload(ch: String, id: Long) =
    Seq.tabulate(3)(k => (if (ch.isEmpty) "-" else ch, id, k.toLong))
      .toDF("ch", "bid", "k")

  private def schedule(seed: Long): List[Op] = {
    val rnd = new scala.util.Random(seed)
    val chans = rnd.shuffle(List("", "w1", "w2")).take(1 + rnd.nextInt(3))
    val queues = scala.collection.mutable.Map(
      chans.map(c => c -> (1 to (1 + rnd.nextInt(3))).map(_.toLong).toList): _*)
    // arbitrary cross-channel interleave of in-order per-channel appends
    val appends = scala.collection.mutable.ListBuffer[Op]()
    while (queues.values.exists(_.nonEmpty)) {
      val live = queues.filter(_._2.nonEmpty).keys.toSeq.sorted
      val c = live(rnd.nextInt(live.size))
      appends += App(c, queues(c).head)
      queues(c) = queues(c).tail
    }
    // replays land anywhere AFTER their original; maintenance anywhere
    var ops: List[Op] = appends.toList
    ops.collect { case a: App => a }.foreach { a =>
      if (rnd.nextDouble() < 0.4) {
        val at = ops.indexOf(a) + 1 + rnd.nextInt(ops.size - ops.indexOf(a))
        val (pre, post) = ops.splitAt(at)
        ops = pre ++ (Replay(a.ch, a.id) :: post)
      }
    }
    (0 until rnd.nextInt(3)).foreach { _ =>
      val at = 1 + rnd.nextInt(ops.size) // never before the first append
      val (pre, post) = ops.splitAt(at)
      ops = pre ++ ((if (rnd.nextBoolean()) Compact else Vac) :: post)
    }
    ops
  }

  test("exactly-once under arbitrary append/replay/maintenance interleavings (scalacheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val prop = Prop.forAllNoShrink(Gen.choose(0L, Long.MaxValue)) { seed =>
      val ops = schedule(seed)
      val t = Spool.dir("graft-interleave") + "/t"
      AtomicLanding.commit(payload("seed", 0L), t) // table exists, v0
      ops.foreach {
        case App(ch, id) =>
          AtomicLanding.streamSink(t, ch)(payload(ch, id), id)
        case Replay(ch, id) =>
          AtomicLanding.streamSink(t, ch)(payload(ch, id), id)
        case Compact =>
          AtomicLanding.compactSmall(spark, t, smallBytes = Long.MaxValue)
        case Vac => AtomicLanding.vacuum(t)
      }
      val issued = ops.collect { case App(c, i) =>
        (if (c.isEmpty) "-" else c, i) }.toSet
      val got = AtomicLanding.read(spark, t)
        .select("ch", "bid").as[(String, Long)].collect()
        .groupBy(identity).view.mapValues(_.length).toMap
      val expected = (issued + (("seed", 0L))).map(_ -> 3).toMap
      val marksOk = ops.collect { case App(c, i) => (c, i) }
        .groupBy(_._1).forall { case (c, xs) =>
          AtomicLanding.lastBatchId(t, c).contains(xs.map(_._2).max)
        }
      val ok = got == expected && marksOk
      if (!ok) println(s"SEED $seed ops=$ops got=$got expected=$expected " +
        s"marksOk=$marksOk")
      ok
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}
