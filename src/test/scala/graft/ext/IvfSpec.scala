package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.queries.Spool

class IvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") < 5)

  test("training produces nLists centroids of the right dimension") {
    val cents = Ivf.train(emb, nLists = 8, iters = 1)
    assert(cents.size == 8)
    assert(cents.forall(_._2.size == 64))
    assert(cents.map(_._1).sorted == (0 until 8))
  }

  test("assignment covers every vector exactly once") {
    val cents = Ivf.train(emb, nLists = 8, iters = 1)
    val lists = Ivf.assign(emb, cents)
    assert(lists.count() == emb.count())
    assert(lists.select("vec_id").distinct().count() == emb.count())
    // every list id is a trained centroid
    val cids = lists.select("cid").distinct().as[Int].collect().toSet
    assert(cids.subsetOf((0 until 8).toSet))
  }

  test("probing more lists can only improve recall; both find neighbors") {
    val brute = Similarity.topKBrute(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(nProbe: Int): Double = {
      val ivf = Ivf.topKIvf(emb, queries, 5, nLists = 16, nProbe = nProbe)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (ivf & brute).size.toDouble / brute.size
    }
    val r2 = recall(2)
    val rAll = recall(16) // probing every list == exact search
    assert(rAll == 1.0, s"full probe must be exact, got $rAll")
    assert(r2 > 0.0)
    assert(rAll >= r2)
  }

  test("an index is built once and probed many times with consistent answers") {
    val idx = Ivf.buildIndex(emb, nLists = 16)
    val once = Ivf.probe(idx, queries, k = 5, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val again = Ivf.probe(idx, queries, k = 5, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(once == again && once.nonEmpty) // deterministic re-probe, no retrain
    val brute = Similarity.topKBrute(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(once == brute) // full probe of a prebuilt index is exact
  }

  test("incremental append: index + batch probes exactly like a full corpus") {
    val corpus = emb.filter(col("vec_id") >= 100)
    val batch = emb.filter(col("vec_id") < 100)
    val idx = Ivf.buildIndex(corpus, nLists = 16)
    val grown = Ivf.addToIndex(idx, batch)
    // every vector is in exactly one list after the append
    assert(grown.lists.count() == emb.count())
    assert(grown.lists.select("neighbor_id").distinct().count() == emb.count())
    // full probe of the grown index == brute force over the FULL corpus
    val probed = Ivf.probe(grown, queries, k = 5, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = Similarity.topKBrute(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probed == brute)
    // the quantizer was NOT retrained by the append
    assert(grown.cents == idx.cents)
    // replay safety: re-appending the same batch changes nothing — an
    // at-least-once ingest must not double-index a vector
    val replayed = Ivf.addToIndex(grown, batch)
    assert(replayed.lists.count() == emb.count())
    val probedAgain = Ivf.probe(replayed, queries, k = 5, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probedAgain == probed)
  }

  test("probe plan never shuffles the corpus: no shuffle joins, no n2 broadcast") {
    // With size-based auto-broadcast disabled, any join left in the probe
    // must be a hinted broadcast of a BOUNDED side (centroids, probes).
    // The round-7 plan shuffle-joined corpus norms on neighbor_id and
    // broadcast the corpus-sized n2 table renamed to query_id — both now
    // replaced by inline integer norms, so the plan must contain NO
    // shuffle equi-join at all, and the only broadcasts are the two
    // bounded hints. The top-k must partially aggregate map-side.
    val tuned = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = tuned.keys.map(k => k -> spark.conf.getOption(k)).toMap
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val idx = Ivf.buildIndex(emb, nLists = 8, iters = 0)
      val q = Ivf.probe(idx, queries, k = 5, nProbe = 4)
      graft.Bench.materialize(q)
      // AQE's toString prints the final plan AND the pre-adaptive initial
      // plan; judge only the final one
      val plan = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
        s"corpus-scale shuffle join in the probe plan:\n$plan")
      val nBroadcast = "BroadcastExchange".r.findAllMatchIn(plan).size
      assert(nBroadcast <= 2,
        s"expected only the centroid + probe-set broadcasts, got $nBroadcast:\n$plan")
      assert(plan.contains("partial_"),
        s"top-k did not partially aggregate map-side:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("queries outside the indexed corpus probe correctly (inline norms)") {
    // Round 7 required queries to be members of the corpus (their norm
    // was looked up in the index's n2 table — absent queries silently
    // dropped). Norms now compute inline from the query embedding, so an
    // external vector probes like any other: at full probe it must match
    // brute force over the corpus exactly, including the double cos_sim.
    val ext = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 50000L).as("vec_id"), col("embedding"))
    val idx = Ivf.buildIndex(emb, nLists = 4, iters = 0)
    val probed = Ivf.probe(idx, ext, k = 3, nProbe = 4)
      .orderBy("query_id", "rnk").collect().toSeq
    val brute = Similarity.topKBrute(emb, ext, 3)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(probed == brute && probed.size == 9)
    // an external identical copy finds its original at rank 1, cos == ~1
    val top = probed.filter(r => r.getLong(0) == 50000L && r.getLong(1) == 1L).head
    assert(top.getLong(2) == 0L)
    assert(math.abs(top.getDouble(3) - 1.0) < 1e-12)
  }

  test("streaming vector ingest: micro-batches append to the frozen index") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    // the production ingest loop: a file stream of new vectors, each
    // micro-batch assigned to the FROZEN quantizer and unioned into the
    // lists (addToIndex is replay-safe, so at-least-once is fine)
    val corpus = emb.filter(col("vec_id") >= 100)
    val d = Spool.dir("graft-ivfstream")
    emb.filter(col("vec_id") < 50)
      .coalesce(1).write.mode("append").parquet(s"$d/in")
    emb.filter(col("vec_id") >= 50 && col("vec_id") < 100)
      .coalesce(1).write.mode("append").parquet(s"$d/in")
    var idx = Ivf.buildIndex(corpus, nLists = 16)
    val cents0 = idx.cents
    val q = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$d/in")
      .writeStream
      .foreachBatch((df: DataFrame, _: Long) => { idx = Ivf.addToIndex(idx, df); () })
      .option("checkpointLocation", s"$d/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(idx.cents == cents0) // quantizer never retrained mid-stream
    assert(idx.lists.count() == emb.count())
    val probed = Ivf.probe(idx, queries, k = 5, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = Similarity.topKBrute(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probed == brute)
  }

  // ---- persisted, growable index (AtomicLanding-backed) ----

  private def canonProbe(idxPath: String, nProbe: Int = 16) =
    Ivf.probeSavedIndex(spark, idxPath, queries, k = 5, nProbe = nProbe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("saved grown index == one-shot full-corpus build; replays no-op") {
    val dir = Spool.dir("graft-ivfsaved")
    // prefix build (contains the seed quantizer's first-16 vectors),
    // then two append batches against the frozen quantizer
    Ivf.buildSavedIndex(emb.filter(col("vec_id") < 200), s"$dir/grown",
      nLists = 16, iters = 0)
    Ivf.addToSavedIndex(spark, s"$dir/grown",
      emb.filter(col("vec_id") >= 200 && col("vec_id") < 350))
    Ivf.addToSavedIndex(spark, s"$dir/grown", emb.filter(col("vec_id") >= 350))
    Ivf.buildSavedIndex(emb, s"$dir/fresh", nLists = 16, iters = 0)

    val lists = graft.land.AtomicLanding.read(spark, s"$dir/grown/lists")
    assert(lists.count() == emb.count())
    assert(lists.select("neighbor_id").distinct().count() == emb.count())
    def rows(p: String) = graft.land.AtomicLanding.read(spark, s"$p/lists")
      .select("neighbor_id", "cid").as[(Long, Int)].collect().toSet
    assert(rows(s"$dir/grown") === rows(s"$dir/fresh"),
      "frozen-quantizer growth must be bit-identical to the one-shot build")
    assert(canonProbe(s"$dir/grown") === canonProbe(s"$dir/fresh"))

    // at-least-once replay: re-appending a committed batch commits nothing
    val v0 = graft.land.AtomicLanding.currentVersion(s"$dir/grown/lists")
    Ivf.addToSavedIndex(spark, s"$dir/grown", emb.filter(col("vec_id") >= 350))
    assert(graft.land.AtomicLanding.currentVersion(s"$dir/grown/lists") == v0,
      "a replayed batch must not publish a new version")
  }

  test("a probe racing a saved-index append reads a complete snapshot; crashed appends publish nothing") {
    val dir = Spool.dir("graft-ivfrace")
    Ivf.buildSavedIndex(emb.filter(col("vec_id") < 300), s"$dir/idx",
      nLists = 16, iters = 0)
    val before = canonProbe(s"$dir/idx")
    // probe from INSIDE the append's pre-publish window: must see the
    // OLD snapshot bit-for-bit, never a torn listing
    var mid: Set[(Long, Long, Long)] = Set.empty
    Ivf.addToSavedIndex(spark, s"$dir/idx", emb.filter(col("vec_id") >= 300),
      beforePublish = () => { mid = canonProbe(s"$dir/idx") })
    assert(mid === before, "a mid-append probe must score the old snapshot")
    // post-append the index scores like a one-shot build over the union
    Ivf.buildSavedIndex(emb, s"$dir/full", nLists = 16, iters = 0)
    val after = canonProbe(s"$dir/idx")
    assert(after === canonProbe(s"$dir/full"))

    // a crash mid-append publishes NOTHING; the retry lands the whole batch
    val dir2 = Spool.dir("graft-ivfcrash")
    Ivf.buildSavedIndex(emb.filter(col("vec_id") < 300), s"$dir2/idx",
      nLists = 16, iters = 0)
    val v0 = graft.land.AtomicLanding.currentVersion(s"$dir2/idx/lists")
    intercept[RuntimeException] {
      Ivf.addToSavedIndex(spark, s"$dir2/idx", emb.filter(col("vec_id") >= 300),
        beforePublish = () => throw new RuntimeException("die before publish"))
    }
    assert(graft.land.AtomicLanding.currentVersion(s"$dir2/idx/lists") == v0,
      "a crashed append must publish nothing")
    Ivf.addToSavedIndex(spark, s"$dir2/idx", emb.filter(col("vec_id") >= 300))
    assert(canonProbe(s"$dir2/idx") === after,
      "the retry must land the whole batch")
  }

  test("maintainSavedIndex folds the append-session tail and vacuums; probes unchanged") {
    val dir = Spool.dir("graft-ivfmaint")
    Ivf.buildSavedIndex(emb.filter(col("vec_id") < 200), s"$dir/idx",
      nLists = 16, iters = 0)
    for (lo <- Seq(200, 300, 400))
      Ivf.addToSavedIndex(spark, s"$dir/idx",
        emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 100))
    assert(graft.land.AtomicLanding.liveDirCount(s"$dir/idx/lists") == 4)
    val before = canonProbe(s"$dir/idx")

    val removed = Ivf.maintainSavedIndex(spark, s"$dir/idx",
      smallBytes = 512L * 1024)
    assert(graft.land.AtomicLanding.liveDirCount(s"$dir/idx/lists") == 1,
      "the micro-batch tail must fold to one dir")
    assert(removed.nonEmpty, "superseded generations must be reclaimed")
    assert(canonProbe(s"$dir/idx") === before,
      "maintenance must not change probe results")

    // the maintained index keeps growing correctly afterwards: union
    // with an external batch still matches the one-shot build
    val extra = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 90000L).as("vec_id"), col("embedding"),
        col("label"))
    Ivf.addToSavedIndex(spark, s"$dir/idx", extra)
    Ivf.buildSavedIndex(emb.unionByName(extra), s"$dir/fresh",
      nLists = 16, iters = 0)
    def rows(p: String) = graft.land.AtomicLanding.read(spark, s"$p/lists")
      .select("neighbor_id", "cid").as[(Long, Int)].collect().toSet
    assert(rows(s"$dir/idx") === rows(s"$dir/fresh"))
  }

  test("identified batches: replay heals with zero scans; new ids skip the dedupe anti-join") {
    import graft.land.AtomicLanding
    val dir = Spool.dir("graft-ivfbatchid")
    val idx = s"$dir/idx"
    Ivf.buildSavedIndex(emb.filter(col("vec_id") < 300), idx,
      nLists = 16, iters = 0, batchId = Some(0L)) // seed watermark
    val batch1 = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val batch2 = emb.filter(col("vec_id") >= 400)

    // a known-NEW identified batch commits WITHOUT the O(index) scan
    val scans0 = Ivf.dedupeListScans.get()
    Ivf.addToSavedIndex(spark, idx, batch1, batchId = Some(1L))
    assert(Ivf.dedupeListScans.get() == scans0,
      "an identified batch must never scan the live lists")
    assert(AtomicLanding.lastBatchId(s"$idx/lists").contains(1L),
      "the id must be durable inside the lists manifest")

    // replaying the published batch is a zero-cost no-op: no version,
    // no assign job, no scan of lists OR batch
    val v1 = AtomicLanding.currentVersion(s"$idx/lists")
    Ivf.addToSavedIndex(spark, idx, batch1, batchId = Some(1L))
    assert(AtomicLanding.currentVersion(s"$idx/lists") == v1,
      "a replayed identified batch must not publish a lists generation")
    assert(Ivf.dedupeListScans.get() == scans0)

    // crash-replay: batch2's lists commit (id durable) but the root
    // never swings; the identified retry is a pure root heal
    final class Crash extends RuntimeException("die before root swing")
    intercept[Crash] {
      Ivf.addToSavedIndex(spark, idx, batch2, batchId = Some(2L),
        beforeRootPublish = () => throw new Crash)
    }
    val vLive = AtomicLanding.currentVersion(s"$idx/lists").get
    assert(AtomicLanding.linkedSnapshot(idx).get.members("lists") < vLive,
      "the crashed batch must be committed but unpublished")
    Ivf.addToSavedIndex(spark, idx, batch2, batchId = Some(2L))
    assert(Ivf.dedupeListScans.get() == scans0,
      "the crash-replay heal must not scan the live lists")
    assert(AtomicLanding.currentVersion(s"$idx/lists").contains(vLive),
      "the heal must republish the durable generation, not re-commit")
    assert(AtomicLanding.linkedSnapshot(idx).get.members("lists") == vLive)

    // end state == a fresh one-shot build over the full corpus
    Ivf.buildSavedIndex(emb, s"$dir/fresh", nLists = 16, iters = 0)
    def rows(p: String) = AtomicLanding.read(spark, s"$p/lists")
      .select("neighbor_id", "cid").as[(Long, Int)].collect().toSet
    assert(rows(idx) === rows(s"$dir/fresh"))
    assert(canonProbe(idx) === canonProbe(s"$dir/fresh"))

    // the id-less fallback still dedupes exactly — and pays the
    // counted scan (the proof the fast path skipped it above)
    Ivf.addToSavedIndex(spark, idx, batch2)
    assert(Ivf.dedupeListScans.get() == scans0 + 1,
      "an id-less append keeps the anti-join fallback")
    assert(rows(idx) === rows(s"$dir/fresh"),
      "the id-less replay must not duplicate rows")
  }

  test("a watermark-less table makes the first identified append pay the dedupe scan") {
    import graft.land.AtomicLanding
    val dir = Spool.dir("graft-ivfnowm")
    val idx = s"$dir/idx"
    // UNSEEDED build (no batchId): no watermark exists, so no id can
    // vouch the durable rows — the monotone-id skip would be unsound
    Ivf.buildSavedIndex(emb.filter(col("vec_id") < 300), idx,
      nLists = 16, iters = 0)
    // grow id-lessly, then replay those SAME rows WITH an id — the
    // pre-fix fast path would have skipped the anti-join and silently
    // duplicated them (the ADVICE scenario)
    val idless = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    Ivf.addToSavedIndex(spark, idx, idless)
    val scans0 = Ivf.dedupeListScans.get()
    Ivf.addToSavedIndex(spark, idx, idless, batchId = Some(1L))
    assert(Ivf.dedupeListScans.get() == scans0 + 1,
      "an identified append on a watermark-less table must pay the scan")
    val lists = AtomicLanding.read(spark, s"$idx/lists")
    assert(lists.count() == lists.select("neighbor_id").distinct().count(),
      "the fallback anti-join must prevent the silent duplication")
    // the scan-paying append established the watermark, so the NEXT
    // identified batch is back on the zero-scan fast path
    assert(AtomicLanding.lastBatchId(s"$idx/lists").contains(1L))
    Ivf.addToSavedIndex(spark, idx, emb.filter(col("vec_id") >= 400),
      batchId = Some(2L))
    assert(Ivf.dedupeListScans.get() == scans0 + 1,
      "once a watermark exists, identified appends skip the scan again")
    // end state still == one-shot build over the full corpus
    Ivf.buildSavedIndex(emb, s"$dir/fresh", nLists = 16, iters = 0)
    def rows(p: String) = AtomicLanding.read(spark, s"$p/lists")
      .select("neighbor_id", "cid").as[(Long, Int)].collect().toSet
    assert(rows(idx) === rows(s"$dir/fresh"))
  }

  test("rebalanceSavedIndex: drifted seeds re-cluster to canonical bits; crash keeps the old generation") {
    import graft.land.AtomicLanding
    val dir = Spool.dir("graft-ivfrebal")
    val idx = s"$dir/idx"
    // SUFFIX build: seed quantizer = vectors 350-365, then grow with
    // the earlier segments — every routing decision uses drifted seeds
    Ivf.buildSavedIndex(emb.filter(col("vec_id") >= 350), idx,
      nLists = 16, iters = 0)
    Ivf.addToSavedIndex(spark, idx, emb.filter(col("vec_id") < 200),
      batchId = Some(1L))
    Ivf.addToSavedIndex(spark, idx,
      emb.filter(col("vec_id") >= 200 && col("vec_id") < 350),
      batchId = Some(2L))
    Ivf.buildSavedIndex(emb, s"$dir/fresh", nLists = 16, iters = 0)
    def rows(p: String) = AtomicLanding.read(spark, s"$p/lists")
      .select("neighbor_id", "cid").as[(Long, Int)].collect().toSet
    // precondition: the drift must be OBSERVABLE, else this test (and
    // the q_cosine_ivf_rebalanced gate) would pass vacuously
    assert(rows(idx) !== rows(s"$dir/fresh"),
      "suffix seeds must route differently from canonical seeds")

    // crash between the member rewrites and the root swing: the OLD
    // (drifted) generation stays live — readers never see new cents
    // over old lists
    val drifted = canonProbe(idx, nProbe = 4)
    final class Crash extends RuntimeException("die before root swing")
    intercept[Crash] {
      Ivf.rebalanceSavedIndex(spark, idx, nLists = 16, iters = 0,
        beforeRootPublish = () => throw new Crash)
    }
    assert(canonProbe(idx, nProbe = 4) === drifted,
      "a crashed rebalance must leave the drifted generation live")

    // the retry completes: bit-identical to the one-shot canonical build
    Ivf.rebalanceSavedIndex(spark, idx, nLists = 16, iters = 0)
    assert(rows(idx) === rows(s"$dir/fresh"),
      "rebalance must reassign every row against the canonical seeds")
    assert(canonProbe(idx, nProbe = 4) === canonProbe(s"$dir/fresh", nProbe = 4))

    // the replay watermark survives the rewrite: a replayed identified
    // batch is still a no-op afterwards
    val v = AtomicLanding.currentVersion(s"$idx/lists")
    Ivf.addToSavedIndex(spark, idx,
      emb.filter(col("vec_id") >= 200 && col("vec_id") < 350),
      batchId = Some(2L))
    assert(AtomicLanding.currentVersion(s"$idx/lists") == v,
      "the rebalance rewrite must carry the batch-id watermark forward")
  }

  test("a no-drift rebalance skips the lists rewrite and publishes nothing") {
    import graft.land.AtomicLanding
    val dir = Spool.dir("graft-ivfnodrift")
    val idx = s"$dir/idx"
    // canonical-prefix build + identified growth with HIGHER ids: the
    // lists corpus's first-16 seeds are unchanged, so retraining
    // reproduces the pinned quantizer and the reassign is a no-op
    Ivf.buildSavedIndex(emb.filter(col("vec_id") < 300), idx,
      nLists = 16, iters = 0, batchId = Some(0L))
    Ivf.addToSavedIndex(spark, idx, emb.filter(col("vec_id") >= 300),
      batchId = Some(1L))
    val snap0 = AtomicLanding.linkedSnapshot(idx).get
    val before = canonProbe(idx)
    val skips0 = Ivf.rebalanceSkips.get()
    Ivf.rebalanceSavedIndex(spark, idx, nLists = 16, iters = 0)
    assert(Ivf.rebalanceSkips.get() == skips0 + 1,
      "the drift probe must skip the rewrite")
    assert(AtomicLanding.linkedSnapshot(idx).get == snap0,
      "a skipped rebalance must not publish a new generation")
    assert(canonProbe(idx) === before)
  }

  test("rebalance racing an append retries and keeps the appended rows") {
    import graft.land.AtomicLanding
    val dir = Spool.dir("graft-ivfrebalrace")
    val idx = s"$dir/idx"
    Ivf.buildSavedIndex(emb.filter(col("vec_id") >= 350), idx,
      nLists = 16, iters = 0)
    Ivf.addToSavedIndex(spark, idx,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 350),
      batchId = Some(1L))
    val late = emb.filter(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding"), col("label"))
      .localCheckpoint()
    // the append lands INSIDE the rebalance's lists-commit window: the
    // CAS'd rewrite must lose, retry over the union, and drop nothing
    var fired = false
    Ivf.rebalanceSavedIndex(spark, idx, nLists = 16, iters = 0,
      beforeListsCommit = () => if (!fired) {
        fired = true
        Ivf.addToSavedIndex(spark, idx, late, batchId = Some(2L))
      })
    assert(fired, "the race seam must have fired")
    Ivf.buildSavedIndex(emb.filter(col("vec_id") >= 100)
        .unionByName(late), s"$dir/fresh", nLists = 16, iters = 0)
    def rows(p: String) = AtomicLanding.read(spark, s"$p/lists")
      .select("neighbor_id", "cid").as[(Long, Int)].collect().toSet
    assert(rows(idx) === rows(s"$dir/fresh"),
      "the retried rebalance must include the concurrently appended rows")
  }

  test("independent ingest writers: per-channel ids never cross-skip; replays no-op per channel; a rebalance carries every channel's mark") {
    import graft.land.AtomicLanding
    val dir = Spool.dir("graft-ivfwriters")
    val idx = s"$dir/idx"
    Ivf.buildSavedIndex(emb.filter(col("vec_id") < 300), idx,
      nLists = 16, iters = 0, batchId = Some(0L))
    val bA = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val bB = emb.filter(col("vec_id") >= 400)
    val listsT = s"$idx/lists"
    // writer B commits id 4 FIRST; writer A's id 2 arrives later. On a
    // shared channel the >= skip would silently drop A's batch (ids are
    // only monotone within one issuer); on channels both land.
    // Fresh channels pay the dedupe scan once to establish their mark.
    Ivf.addToSavedIndex(spark, idx, bB, batchId = Some(4L), writer = "qB")
    Ivf.addToSavedIndex(spark, idx, bA, batchId = Some(2L), writer = "qA")
    val expect = emb.count()
    assert(AtomicLanding.read(spark, listsT).count() == expect,
      "a later-arriving lower id on ANOTHER channel must still land")
    assert(AtomicLanding.lastBatchId(listsT, "qA").contains(2L))
    assert(AtomicLanding.lastBatchId(listsT, "qB").contains(4L))
    // replay each on its own channel: pure no-ops, counted by the scan
    // seam (channel marks exist now — the zero-scan fast path)
    val scans0 = Ivf.dedupeListScans.get()
    val v0 = AtomicLanding.currentVersion(listsT)
    Ivf.addToSavedIndex(spark, idx, bB, batchId = Some(4L), writer = "qB")
    Ivf.addToSavedIndex(spark, idx, bA, batchId = Some(2L), writer = "qA")
    assert(AtomicLanding.currentVersion(listsT) == v0 &&
      Ivf.dedupeListScans.get() == scans0,
      "channel replays must publish nothing and scan nothing")
    // a maintenance rewrite must carry every channel's mark — losing
    // one would let that writer's replay duplicate its batch
    Ivf.rebalanceSavedIndex(spark, idx, nLists = 16, iters = 0)
    assert(AtomicLanding.lastBatchId(listsT, "qA").contains(2L) &&
      AtomicLanding.lastBatchId(listsT, "qB").contains(4L),
      "a rebalance must not erase writer channels")
    Ivf.addToSavedIndex(spark, idx, bA, batchId = Some(2L), writer = "qA")
    Ivf.addToSavedIndex(spark, idx, bB, batchId = Some(4L), writer = "qB")
    assert(AtomicLanding.read(spark, listsT).count() == expect,
      "post-rebalance channel replays must still be no-ops")
    // channeled growth converges to the canonical one-shot bits
    Ivf.buildSavedIndex(emb, s"$dir/fresh", nLists = 16, iters = 0)
    assert(canonProbe(idx) === canonProbe(s"$dir/fresh"))
  }

  test("a crashed fold heals under the pinned quantizer even above orphaned cents from a crashed rebalance") {
    import graft.land.AtomicLanding
    val dir = Spool.dir("graft-ivforphan")
    val idx = s"$dir/idx"
    Ivf.buildSavedIndex(emb.filter(col("vec_id") < 300), idx,
      nLists = 8, iters = 0, batchId = Some(0L))
    Ivf.addToSavedIndex(spark, idx,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 350), batchId = Some(1L))
    Ivf.addToSavedIndex(spark, idx,
      emb.filter(col("vec_id") >= 350 && col("vec_id") < 400), batchId = Some(2L))
    val pinned = AtomicLanding.linkedSnapshot(idx).get
    // a rebalance commits its 4-centroid quantizer and dies before the
    // lists rewrite: the new cents are an orphan above the pin
    final class Crash extends RuntimeException("die before lists commit")
    intercept[Crash] {
      Ivf.rebalanceSavedIndex(spark, idx, nLists = 4, iters = 1,
        beforeListsCommit = () => throw new Crash)
    }
    assert(AtomicLanding.currentVersion(s"$idx/cents").get > pinned.members("cents"))
    // then a lists fold commits (rows still assigned under 8 centroids)
    // and its maintainer dies before the root publish
    AtomicLanding.compactSmall(spark, s"$idx/lists", 512L * 1024)
    assert(AtomicLanding.currentVersion(s"$idx/lists").get > pinned.members("lists"))
    Ivf.addToSavedIndex(spark, idx, emb.filter(col("vec_id") >= 400),
      batchId = Some(3L))
    assert(AtomicLanding.linkedSnapshot(idx).get.members("cents")
      == pinned.members("cents"), "the root must keep pinning the original cents")
    assert(Ivf.loadSavedIndex(spark, idx).cents.size == 8)
    Ivf.buildSavedIndex(emb, s"$dir/fresh", nLists = 8, iters = 0)
    def rows(p: String) = AtomicLanding.read(spark, s"$p/lists")
      .select("neighbor_id", "cid").as[(Long, Int)].collect().toSet
    assert(rows(idx) === rows(s"$dir/fresh"),
      "the lists must equal a one-shot build under the original quantizer")
  }
}
