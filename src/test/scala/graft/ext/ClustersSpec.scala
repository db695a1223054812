package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.land.AtomicLanding
import graft.queries.Spool

/** [[Clusters]] — exact incremental connected components (contraction)
  * plus the persisted grow-in-place lifecycle. The core claim under
  * test: extend(components(E_old), E_new) == components(E_old ∪ E_new)
  * on EVERY graph, with the delta containing only affected rows. */
class ClustersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df(pairs: Seq[(Long, Long)]) = pairs.toDF("doc_a", "doc_b")

  private def asMap(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    d.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Long]("component")).toMap

  private def oneShot(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    asMap(ConnectedComponents.components(df(pairs)))

  private def grown(standing: Seq[(Long, Long)],
      batch: Seq[(Long, Long)]): Map[Long, Long] =
    asMap(Clusters.extend(ConnectedComponents.components(df(standing)),
      df(batch)))

  test("extend == one-shot CC: merges, bridges, unseen vertices, singletons") {
    // standing: {1,2,3} and {10,11}; batch bridges them via an unseen 7,
    // adds a fresh pair {20,21}, and an internal re-edge (no-op)
    val standing = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val batch = Seq((3L, 7L), (7L, 10L), (20L, 21L), (1L, 2L))
    assert(grown(standing, batch) == oneShot(standing ++ batch))
  }

  test("extend == one-shot CC on randomized graphs (seeded sweep)") {
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 8) {
      val n = 30 + rnd.nextInt(50)
      val all = Seq.fill(40 + rnd.nextInt(60))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      val cut = rnd.nextInt(all.size)
      val (standing, batch) = all.splitAt(cut)
      // batches may reference ids the standing graph never saw — that
      // asymmetry is the whole point of the incremental path
      assert(grown(standing, batch) == oneShot(all),
        s"trial $trial: incremental diverged from one-shot")
    }
  }

  test("extendDelta touches only affected rows; untouched clusters stay unwritten") {
    val standing = Seq((1L, 2L), (10L, 11L), (100L, 101L))
    val assign = ConnectedComponents.components(df(standing))
    // merge {10,11} with unseen 5 (new min → whole cluster remaps);
    // {1,2} and {100,101} must not appear in the delta
    val delta = asMap(Clusters.extendDelta(assign, df(Seq((5L, 10L)))))
    assert(delta == Map(5L -> 5L, 10L -> 5L, 11L -> 5L))
  }

  test("empty batch: extendDelta is empty, extend is the identity") {
    val assign = ConnectedComponents.components(df(Seq((1L, 2L))))
    assert(Clusters.extendDelta(assign, df(Nil)).isEmpty)
    assert(asMap(Clusters.extend(assign, df(Nil))) == Map(1L -> 1L, 2L -> 1L))
  }

  private def tmp(): String =
    Spool.dir("graft-clusters-spec") + "/state"

  test("saved lifecycle: build -> grow -> grow == one-shot; folds compose across batches") {
    val p = tmp()
    val standing = Seq((1L, 2L), (10L, 11L), (30L, 31L))
    val b1 = Seq((2L, 10L), (50L, 51L))   // merge two clusters + fresh pair
    val b2 = Seq((31L, 50L), (5L, 1L))    // chain batch-1's fresh pair in
    Clusters.buildSaved(df(standing), p)
    Clusters.addToSaved(spark, p, df(b1), batchId = Some(1L))
    Clusters.addToSaved(spark, p, df(b2), batchId = Some(2L))
    assert(asMap(Clusters.snapshot(spark, p)) == oneShot(standing ++ b1 ++ b2))
  }

  test("identified replay is a pure no-op: version pinned, no recompute") {
    val p = tmp()
    Clusters.buildSaved(df(Seq((1L, 2L))), p)
    Clusters.addToSaved(spark, p, df(Seq((2L, 3L))), batchId = Some(1L))
    val v = AtomicLanding.currentVersion(p)
    val before = asMap(Clusters.snapshot(spark, p))
    Clusters.addToSaved(spark, p, df(Seq((2L, 3L))), batchId = Some(1L))
    assert(AtomicLanding.currentVersion(p) == v,
      "replay of a committed batch id must not commit")
    assert(asMap(Clusters.snapshot(spark, p)) == before)
  }

  test("append writes O(affected) rows, not the state") {
    val p = tmp()
    val standing = (0L until 40L by 2L).map(i => (i, i + 1L)) // 20 clusters
    Clusters.buildSaved(df(standing), p)
    val rows0 = AtomicLanding.read(spark, p).count()
    // one merge touching two pairs: delta = 2 remapped rows (4,5 keep
    // their min; 6,7 remap to 4... compute: merge (5,6) joins {4,5} and
    // {6,7} under min 4 → rows 6,7 change, 4,5 do not)
    Clusters.addToSaved(spark, p, df(Seq((5L, 6L))), batchId = Some(1L))
    val rows1 = AtomicLanding.read(spark, p).count()
    assert(rows1 - rows0 == 2L,
      s"expected a 2-row delta, got ${rows1 - rows0}")
    assert(asMap(Clusters.snapshot(spark, p)) ==
      oneShot(standing :+ (5L, 6L)))
  }

  test("maintainSaved folds generations to one row per doc, snapshot and batch id preserved") {
    val p = tmp()
    Clusters.buildSaved(df(Seq((1L, 2L), (10L, 11L))), p)
    Clusters.addToSaved(spark, p, df(Seq((2L, 10L))), batchId = Some(1L))
    val before = asMap(Clusters.snapshot(spark, p))
    Clusters.maintainSaved(spark, p)
    val raw = AtomicLanding.read(spark, p)
    assert(raw.count() == raw.select("doc_id").distinct().count(),
      "fold must leave one row per doc")
    assert(asMap(Clusters.snapshot(spark, p)) == before)
    assert(AtomicLanding.lastBatchId(p).contains(1L),
      "fold must carry the replay watermark forward")
    // ... so a replay AFTER maintenance is still a no-op
    val v = AtomicLanding.currentVersion(p)
    Clusters.addToSaved(spark, p, df(Seq((2L, 10L))), batchId = Some(1L))
    assert(AtomicLanding.currentVersion(p) == v)
  }

  test("maintainSaved cannot erase a concurrent append: version pinned before the fold") {
    val p = tmp()
    Clusters.buildSaved(df(Seq((1L, 2L), (10L, 11L))), p)
    Clusters.addToSaved(spark, p, df(Seq((2L, 10L))), batchId = Some(1L))
    val retries0 = Clusters.casRetries.get()
    var fired = false
    // the racing append lands between the maintainer's pinned read and
    // its commit — the TOCTOU window. Because maintainSaved pins the
    // version BEFORE reading, the fold's CAS must fail and the retry
    // must fold the winner's state (including the appended pair),
    // instead of publishing a stale fold that erases it
    Clusters.maintainSaved(spark, p, beforeCommit = () => if (!fired) {
      fired = true
      Clusters.addToSaved(spark, p, df(Seq((50L, 51L))), batchId = Some(2L))
    })
    assert(fired, "the race seam must have fired")
    assert(Clusters.casRetries.get() > retries0,
      "the maintainer must lose the CAS to the racing append and retry")
    assert(asMap(Clusters.snapshot(spark, p)) ==
      oneShot(Seq((1L, 2L), (10L, 11L), (2L, 10L), (50L, 51L))))
    assert(AtomicLanding.lastBatchId(p).contains(2L),
      "the fold must carry the racing append's batch id, not the stale pin")
    val raw = AtomicLanding.read(spark, p)
    assert(raw.count() == raw.select("doc_id").distinct().count(),
      "the retried fold must still leave one row per doc")
    // ... and the racing batch's replay is still a pure no-op
    val v = AtomicLanding.currentVersion(p)
    Clusters.addToSaved(spark, p, df(Seq((50L, 51L))), batchId = Some(2L))
    assert(AtomicLanding.currentVersion(p) == v)
  }

  test("extendDeltaRaw == extendDelta on a multi-generation raw state") {
    // build a genuinely multi-gen state via the persisted path: three
    // appends, each remapping earlier rows — raw then holds stale rows
    // whose components are dissolved roots
    val p = tmp()
    Clusters.buildSaved(df(Seq((10L, 11L), (20L, 21L), (30L, 31L))), p)
    Clusters.addToSaved(spark, p, df(Seq((11L, 20L))), batchId = Some(1L))
    Clusters.addToSaved(spark, p, df(Seq((21L, 30L), (40L, 41L))),
      batchId = Some(2L))
    val raw = AtomicLanding.read(spark, p)
    assert(raw.count() > raw.select("doc_id").distinct().count(),
      "precondition: the state must actually hold superseded generations")
    val batch = df(Seq((5L, 10L), (40L, 50L), (60L, 61L)))
    val viaRaw = asMap(Clusters.extendDeltaRaw(raw, batch))
    val viaResolved = asMap(
      Clusters.extendDelta(Clusters.snapshot(spark, p), batch))
    assert(viaRaw == viaResolved)
    // ... and the composed result still equals one-shot CC
    val all = Seq((10L, 11L), (20L, 21L), (30L, 31L), (11L, 20L),
      (21L, 30L), (40L, 41L), (5L, 10L), (40L, 50L), (60L, 61L))
    Clusters.addToSaved(spark, p, batch, batchId = Some(3L))
    assert(asMap(Clusters.snapshot(spark, p)) == oneShot(all))
  }

  test("a lost CAS race recomputes against the winner's state, never blind-applies") {
    val p = tmp()
    Clusters.buildSaved(df(Seq((1L, 2L), (10L, 11L))), p)
    val retries0 = Clusters.casRetries.get()
    var fired = false
    // the outer folder merges {1,2}+{10,11} via (2,10); the racing
    // folder lands between the outer's delta computation and its
    // commit, bridging {10,11} to an unseen smaller id 5 — which
    // CHANGES the outer's contraction (10's root becomes 5). A blind
    // append of the outer's stale delta would leave 5 outside the
    // merged cluster; the CAS forces a recompute against the winner
    Clusters.addToSaved(spark, p, df(Seq((2L, 10L))), batchId = Some(1L),
      beforeCommit = () => if (!fired) {
        fired = true
        Clusters.addToSaved(spark, p, df(Seq((5L, 10L))))
      })
    assert(fired, "the race seam must have fired")
    assert(Clusters.casRetries.get() > retries0,
      "the outer folder must have lost the CAS and retried")
    assert(asMap(Clusters.snapshot(spark, p)) ==
      oneShot(Seq((1L, 2L), (10L, 11L), (2L, 10L), (5L, 10L))))
  }

  test("id-less append with nothing new commits nothing") {
    val p = tmp()
    Clusters.buildSaved(df(Seq((1L, 2L))), p)
    val v = AtomicLanding.currentVersion(p)
    Clusters.addToSaved(spark, p, df(Seq((1L, 2L))), batchId = None)
    assert(AtomicLanding.currentVersion(p) == v)
  }
}
