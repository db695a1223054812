package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.queries.Spool

/** Randomized-schedule property for the SAVED IVF index lifecycle —
  * the generative counterpart to IvfSpec's directed grown/replay/
  * maintain/rebalance cases: for ARBITRARY interleavings of identified
  * appends, identified replays, physical maintenance (tail fold +
  * vacuum) and iters = 0 rebalances, the lists member must end holding
  * the accumulated corpus EXACTLY once and be bit-identical (rows and
  * probe results) to a one-shot build over the same corpus. Every
  * lifecycle entry point preserves that invariant individually; the
  * property checks they COMPOSE — the r16/r17 bug class (a maintenance
  * rewrite dropping a writer channel's mark, a rebalance racing an
  * append) lives exactly in the compositions a directed suite
  * enumerates by hand.
  *
  * The build prefix always contains the seed vectors (first nLists by
  * vec_id), which is what makes frozen-quantizer growth — and therefore
  * any schedule of it — bit-identical to the one-shot build (IvfSpec's
  * "saved grown index == one-shot" directed case). */
class IvfLifecyclePropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
  private lazy val nEmb = emb.count()
  private lazy val queries = emb.filter(col("vec_id") < 3)

  private def canonProbe(p: String): Set[(Long, Long)] =
    Ivf.probeSavedIndex(spark, p, queries, k = 4, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

  test("lists == one-shot bits under arbitrary append/replay/maintain/rebalance schedules (scalacheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val prop = Prop.forAllNoShrink(Gen.choose(0L, Long.MaxValue)) { seed =>
      val rnd = new scala.util.Random(seed)
      val dir = Spool.dir("graft-ivflife")
      val idx = s"$dir/idx"
      // prefix [0, c0) covers the 16 seed vectors; the rest splits into
      // 1..3 consecutive id-range batches
      val c0 = 100 + rnd.nextInt((nEmb / 2).toInt - 100)
      val nBatches = 1 + rnd.nextInt(3)
      // cuts drawn from [c0+1, nEmb-1] and deduped so EVERY batch is
      // non-empty (ids are dense): an empty final batch would make the
      // replay-publishes-nothing assertion below pass vacuously
      val cuts = ((c0.toLong +: Seq.fill(nBatches - 1)(
        c0 + 1 + rnd.nextInt((nEmb - c0 - 1).toInt)).map(_.toLong))
        .distinct.sorted) :+ nEmb
      val batches = cuts.zip(cuts.tail).zipWithIndex.map {
        case ((lo, hi), i) =>
          (i + 1L, emb.filter(col("vec_id") >= lo && col("vec_id") < hi))
      }
      Ivf.buildSavedIndex(emb.filter(col("vec_id") < c0), idx,
        nLists = 16, iters = 0, batchId = Some(0L))
      // schedule: appends in id order, with replay / maintain /
      // rebalance drawn after each step
      batches.foreach { case (id, b) =>
        Ivf.addToSavedIndex(spark, idx, b, batchId = Some(id))
        rnd.nextInt(4) match {
          case 0 => Ivf.addToSavedIndex(spark, idx, b, batchId = Some(id))
          case 1 => Ivf.maintainSavedIndex(spark, idx)
          case 2 => Ivf.rebalanceSavedIndex(spark, idx, nLists = 16,
            iters = 0)
          case _ => ()
        }
      }
      // final replay of the LAST batch must publish nothing
      val v = graft.land.AtomicLanding.currentVersion(s"$idx/lists")
      Ivf.addToSavedIndex(spark, idx, batches.last._2,
        batchId = Some(batches.last._1))
      val replayNoop =
        graft.land.AtomicLanding.currentVersion(s"$idx/lists") == v

      Ivf.buildSavedIndex(emb, s"$dir/fresh", nLists = 16, iters = 0)
      def rows(p: String) = graft.land.AtomicLanding.read(spark, s"$p/lists")
        .select("neighbor_id", "cid").as[(Long, Int)].collect()
      val got = rows(idx)
      val exactlyOnce = got.length == nEmb &&
        got.map(_._1).distinct.length == nEmb
      val bitIdentical = got.toSet == rows(s"$dir/fresh").toSet &&
        canonProbe(idx) == canonProbe(s"$dir/fresh")
      val ok = replayNoop && exactlyOnce && bitIdentical
      if (!ok) println(s"SEED $seed c0=$c0 cuts=$cuts replayNoop=" +
        s"$replayNoop exactlyOnce=$exactlyOnce bitIdentical=$bitIdentical")
      ok
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("lists == one-shot bits when schedules add crashed rebalances and crashed folds (scalacheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.land.AtomicLanding
    final class Crash extends RuntimeException("die before lists commit")
    // the two crash steps: a rebalance to 8 lists that commits its
    // cents and dies before the lists rewrite (orphaned cents), and a
    // lists fold whose maintainer dies before the root publish
    def crashedRebalance(idx: String): Unit = intercept[Crash] {
      Ivf.rebalanceSavedIndex(spark, idx, nLists = 8, iters = 0,
        beforeListsCommit = () => throw new Crash)
    }
    def crashedFold(idx: String): Unit = {
      AtomicLanding.compactSmall(spark, s"$idx/lists", Long.MaxValue); ()
    }
    // the first schedule always pairs the two crash steps, in the order
    // that strands a fold above orphaned cents
    var first = true
    val prop = Prop.forAllNoShrink(Gen.choose(0L, Long.MaxValue)) { seed =>
      val rnd = new scala.util.Random(seed)
      val paired = first
      first = false
      val dir = Spool.dir("graft-ivfcrash")
      val idx = s"$dir/idx"
      val c0 = 100 + rnd.nextInt((nEmb / 2).toInt - 100)
      val nBatches = 1 + rnd.nextInt(3)
      val cuts = ((c0.toLong +: Seq.fill(nBatches - 1)(
        c0 + 1 + rnd.nextInt((nEmb - c0 - 1).toInt)).map(_.toLong))
        .distinct.sorted) :+ nEmb
      val batches = cuts.zip(cuts.tail).zipWithIndex.map {
        case ((lo, hi), i) =>
          (i + 1L, emb.filter(col("vec_id") >= lo && col("vec_id") < hi))
      }
      Ivf.buildSavedIndex(emb.filter(col("vec_id") < c0), idx,
        nLists = 16, iters = 0, batchId = Some(0L))
      batches.zipWithIndex.foreach { case ((id, b), i) =>
        Ivf.addToSavedIndex(spark, idx, b, batchId = Some(id))
        (if (paired && i == 0) -1 else rnd.nextInt(6)) match {
          case -1 => crashedRebalance(idx); crashedFold(idx)
          case 0 => Ivf.addToSavedIndex(spark, idx, b, batchId = Some(id))
          case 1 => Ivf.maintainSavedIndex(spark, idx)
          case 2 => Ivf.rebalanceSavedIndex(spark, idx, nLists = 16,
            iters = 0)
          case 3 => crashedRebalance(idx)
          case 4 => crashedFold(idx)
          case _ => ()
        }
      }
      val v = AtomicLanding.currentVersion(s"$idx/lists")
      Ivf.addToSavedIndex(spark, idx, batches.last._2,
        batchId = Some(batches.last._1))
      val replayNoop = AtomicLanding.currentVersion(s"$idx/lists") == v

      Ivf.buildSavedIndex(emb, s"$dir/fresh", nLists = 16, iters = 0)
      def rows(p: String) = AtomicLanding.read(spark, s"$p/lists")
        .select("neighbor_id", "cid").as[(Long, Int)].collect()
      val got = rows(idx)
      val exactlyOnce = got.length == nEmb &&
        got.map(_._1).distinct.length == nEmb
      val bitIdentical = got.toSet == rows(s"$dir/fresh").toSet &&
        canonProbe(idx) == canonProbe(s"$dir/fresh")
      val ok = replayNoop && exactlyOnce && bitIdentical
      if (!ok) println(s"SEED $seed c0=$c0 cuts=$cuts paired=$paired " +
        s"replayNoop=$replayNoop exactlyOnce=$exactlyOnce " +
        s"bitIdentical=$bitIdentical")
      ok
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }
}
