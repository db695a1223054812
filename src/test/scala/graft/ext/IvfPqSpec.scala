package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.queries.Spool

/** IVF-PQ composed index: losslessness of the machinery at the
  * degenerate config, recall behavior of the real one. */
class IvfPqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val emb =
    spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") < 5)

  test("full probe + full shortlist equals brute force exactly") {
    // every list probed and every candidate re-ranked: the ADC layer can
    // prune nothing, so the composed machinery must be lossless no
    // matter how bad the codebooks are
    val n = emb.count().toInt
    val got = IvfPq.topK(emb, queries, k = 5, nLists = 8, m = 8, kCodes = 16,
        nProbe = 8, shortlist = n + 1)
      .orderBy("query_id", "rnk").collect().toSeq
    val want = Similarity.topKBrute(emb, queries, k = 5)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(got == want)
  }

  test("recall is monotone in nProbe; trained quantizers keep it high") {
    val idx = IvfPq.buildIndex(emb, nLists = 8, m = 8, k = 16,
      itersCoarse = 1, itersPq = 1)
    val exact = Similarity.topKBrute(emb, queries, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nProbe: Int): Double = {
      val got = IvfPq.probe(emb, idx, queries, k = 5, nProbe, shortlist = 50)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val r1 = recall(1)
    val r8 = recall(8)
    assert(r8 >= r1, s"recall fell with more probes: $r1 -> $r8")
    assert(r8 > 0.5, s"full-probe recall too low: $r8")
  }

  test("a saved index probes identically after reload in a fresh lineage") {
    val idx = IvfPq.buildIndex(emb, nLists = 8, m = 8, k = 16,
      itersCoarse = 1, itersPq = 1)
    val p = Spool.dir("graft-ivfpq")
    IvfPq.save(idx, p)
    val loaded = IvfPq.load(spark, p)
    assert(loaded.m == idx.m && loaded.subDim == idx.subDim)
    assert(loaded.cents == idx.cents && loaded.cb == idx.cb)
    val a = IvfPq.probe(emb, idx, queries, k = 5, nProbe = 2, shortlist = 20)
      .orderBy("query_id", "rnk").collect().toSeq
    val b = IvfPq.probe(emb, loaded, queries, k = 5, nProbe = 2, shortlist = 20)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(a == b)
  }

  test("addToSavedIndex: grown == one-shot; identified replay zero-scan; half-crash heals exactly") {
    import graft.land.AtomicLanding
    val dir = Spool.dir("graft-ivfpqgrow")
    val idx = s"$dir/idx"
    // deterministic quantizers (iters = 0); the prefix holds both seed
    // sets (coarse first-16 vectors, PQ first-16 residual slices)
    IvfPq.save(IvfPq.buildIndex(emb.filter(col("vec_id") < 300)), idx,
      batchId = Some(0L)) // seed watermark vouches the build corpus
    val batch1 = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val batch2 = emb.filter(col("vec_id") >= 400)

    // identified appends never scan the live tables
    val scans0 = IvfPq.dedupeCodeScans.get()
    IvfPq.addToSavedIndex(spark, idx, batch1, batchId = Some(1L))
    assert(IvfPq.dedupeCodeScans.get() == scans0)
    // replay: zero scans, no versions, no root swing
    val snap1 = AtomicLanding.linkedSnapshot(idx).get
    IvfPq.addToSavedIndex(spark, idx, batch1, batchId = Some(1L))
    assert(AtomicLanding.linkedSnapshot(idx).get == snap1 &&
      IvfPq.dedupeCodeScans.get() == scans0)

    // half-crash: batch2's n2 and codes commit, the root swing dies —
    // the identified retry completes ONLY the root (both ids durable)
    final class Crash extends RuntimeException("die before root swing")
    intercept[Crash] {
      IvfPq.addToSavedIndex(spark, idx, batch2, batchId = Some(2L),
        beforeRootPublish = () => throw new Crash)
    }
    assert(AtomicLanding.linkedSnapshot(idx).get == snap1,
      "a crash before the root swing must leave the pinned quadruple")
    IvfPq.addToSavedIndex(spark, idx, batch2, batchId = Some(2L))
    assert(IvfPq.dedupeCodeScans.get() == scans0,
      "the crash-replay heal must not scan the live tables")

    // grown == one-shot build over the union corpus, bit-for-bit:
    // probes equal, and the codes/n2 tables are row-identical
    val fresh = s"$dir/fresh"
    IvfPq.save(IvfPq.buildIndex(emb), fresh)
    def canon(p: String) =
      IvfPq.probe(emb, IvfPq.load(spark, p), queries,
          k = 5, nProbe = 4, shortlist = 50)
        .orderBy("query_id", "rnk").collect().toSeq
    assert(canon(idx) == canon(fresh))
    def rows(p: String, t: String) = AtomicLanding.read(spark, s"$p/$t")
      .collect().map(_.toSeq).toSet
    for (t <- Seq("codes", "n2"))
      assert(rows(idx, t) === rows(fresh, t),
        s"$t must match a one-shot build over the union corpus")

    // the id-less fallback dedupes both member sides (two counted
    // scans) and a full replay commits nothing
    val v = (AtomicLanding.currentVersion(s"$idx/codes"),
      AtomicLanding.currentVersion(s"$idx/n2"))
    IvfPq.addToSavedIndex(spark, idx, batch2)
    assert(IvfPq.dedupeCodeScans.get() == scans0 + 2)
    assert((AtomicLanding.currentVersion(s"$idx/codes"),
      AtomicLanding.currentVersion(s"$idx/n2")) == v,
      "an id-less full replay must not publish new member generations")

    // session maintenance folds each member's append tail to one dir
    // and republishes the root; probes unchanged, superseded
    // generations reclaimed
    assert(AtomicLanding.liveDirCount(s"$idx/codes") == 3)
    val probedBefore = canon(idx)
    val removed = IvfPq.maintainSavedIndex(spark, idx,
      smallBytes = 512L * 1024)
    assert(removed.nonEmpty, "superseded generations must be reclaimed")
    assert(AtomicLanding.liveDirCount(s"$idx/codes") == 1 &&
      AtomicLanding.liveDirCount(s"$idx/n2") == 1,
      "each member's micro-batch tail must fold to one dir")
    assert(canon(idx) == probedBefore,
      "maintenance must not change probe results")
  }

  test("a re-save flips readers atomically: no cross-generation part mix, crashes invisible") {
    // the retrain-on-drift path: index v1 is live and probed; a retrain
    // re-saves v2. The root pointer is the linearization point — a load
    // racing the re-save (inside the root commit's pre-publish window,
    // when all four part tables ALREADY hold their v2 generations)
    // must resolve the complete OLD quadruple
    val p = Spool.dir("graft-ivfpqacid")
    val v1 = IvfPq.buildIndex(emb, nLists = 8, m = 8, k = 16)
    IvfPq.save(v1, p)
    def probed() = IvfPq.probe(emb, IvfPq.load(spark, p), queries,
      k = 5, nProbe = 2, shortlist = 20).orderBy("query_id", "rnk")
      .collect().toSeq
    val old = probed()

    val v2 = IvfPq.buildIndex(emb, nLists = 8, m = 8, k = 16,
      itersCoarse = 1, itersPq = 1)
    // crash the first re-save attempt at the worst point: every part
    // generation staged, root not yet swung — readers must be unmoved
    intercept[RuntimeException] {
      IvfPq.save(v2, p,
        beforePublish = () => throw new RuntimeException("kill -9"))
    }
    assert(probed() == old, "a crashed re-save must be invisible")

    // the retry: a reader INSIDE the pre-publish window still sees the
    // old quadruple consistently; after publish, the new index
    var mid: Seq[org.apache.spark.sql.Row] = Nil
    IvfPq.save(v2, p, beforePublish = () => { mid = probed() })
    assert(mid == old, "a mid-save load must resolve the OLD quadruple")
    val fresh = IvfPq.load(spark, p)
    assert(fresh.cents == v2.cents && fresh.cb == v2.cb,
      "after the root swing, readers get the retrained quantizers")

    // maintenance reclaims the superseded v1 generations (and the
    // crashed attempt's orphans, now superseded too) without touching
    // the live index
    val removed = IvfPq.maintainSavedIndex(spark, p)
    assert(removed.nonEmpty, "superseded generations must be reclaimed")
    assert(probed() == IvfPq.probe(emb, v2, queries, k = 5, nProbe = 2,
      shortlist = 20).orderBy("query_id", "rnk").collect().toSeq)
  }

  test("appends after a crashed re-save: complete quadruple heals forward, incomplete refuses") {
    import graft.land.AtomicLanding
    def rows(p: String, t: String) = AtomicLanding.read(spark, s"$p/$t")
      .collect().map(_.toSeq).toSet
    val head = emb.filter(col("vec_id") < 300)
    val tail = emb.filter(col("vec_id") >= 300)
    val v1 = IvfPq.buildIndex(head)               // 16 lists
    val v2 = IvfPq.buildIndex(head, nLists = 8)   // re-trained config

    // the oracle lineage: a CLEAN re-save + append
    val q = Spool.dir("graft-ivfpqclean")
    IvfPq.save(v1, q); IvfPq.save(v2, q)
    IvfPq.addToSavedIndex(spark, q, tail, batchId = Some(1L))

    // COMPLETE crash: all four members staged, root never swung — the
    // next append must heal the quadruple forward and assign the batch
    // under the RE-SAVED quantizers, never the pinned old ones
    val p1 = Spool.dir("graft-ivfpqcrashc")
    IvfPq.save(v1, p1)
    intercept[RuntimeException] {
      IvfPq.save(v2, p1,
        beforePublish = () => throw new RuntimeException("kill -9"))
    }
    IvfPq.addToSavedIndex(spark, p1, tail, batchId = Some(1L))
    assert(rows(p1, "codes") == rows(q, "codes") &&
      rows(p1, "n2") == rows(q, "n2") &&
      rows(p1, "cents") == rows(q, "cents"),
      "the healed index must equal the clean re-save + append lineage")

    // INCOMPLETE crash (cents/cb/codes rewritten, n2 still at its pin):
    // un-completable here — the append and the maintainer both refuse
    // rather than publish a mix; re-running save() is the heal
    val p2 = Spool.dir("graft-ivfpqcrashi")
    IvfPq.save(v1, p2)
    val before = IvfPq.probe(emb, IvfPq.load(spark, p2), queries,
      k = 5, nProbe = 2, shortlist = 20).orderBy("query_id", "rnk")
      .collect().toSeq
    intercept[RuntimeException] {
      IvfPq.save(v2, p2, beforeMember =
        m => if (m == "n2") throw new RuntimeException("kill -9"))
    }
    intercept[IllegalStateException] {
      IvfPq.addToSavedIndex(spark, p2, tail, batchId = Some(1L))
    }
    intercept[IllegalStateException] {
      IvfPq.maintainSavedIndex(spark, p2)
    }
    assert(IvfPq.probe(emb, IvfPq.load(spark, p2), queries,
      k = 5, nProbe = 2, shortlist = 20).orderBy("query_id", "rnk")
      .collect().toSeq == before,
      "probes must keep serving the old generation throughout")
    IvfPq.save(v2, p2) // the documented heal
    IvfPq.addToSavedIndex(spark, p2, tail, batchId = Some(1L))
    assert(rows(p2, "codes") == rows(q, "codes") &&
      rows(p2, "n2") == rows(q, "n2"),
      "after the re-run save the append lands exactly")
  }

  test("rebalanceSavedIndex: drifted seeds re-cluster to canonical bits; a stale corpus refuses loudly") {
    import graft.land.AtomicLanding
    val dir = Spool.dir("graft-pqrebal")
    val idx = s"$dir/idx"
    // suffix build: coarse seeds = vectors 350-365 and PQ codebooks =
    // their residual slices — both drifted off the canonical first-16
    IvfPq.save(IvfPq.buildIndex(emb.filter(col("vec_id") >= 350)), idx)
    IvfPq.addToSavedIndex(spark, idx, emb.filter(col("vec_id") < 200),
      batchId = Some(1L))
    IvfPq.addToSavedIndex(spark, idx,
      emb.filter(col("vec_id") >= 200 && col("vec_id") < 350),
      batchId = Some(2L))
    def canon(p: String) =
      IvfPq.probe(emb, IvfPq.load(spark, p), queries,
          k = 5, nProbe = 4, shortlist = 50)
        .orderBy("query_id", "rnk").collect().toSeq

    // the census fence: a corpus missing live ids refuses before any
    // rebuild work, and publishes nothing
    val snap0 = AtomicLanding.linkedSnapshot(idx).get
    val e1 = intercept[IllegalArgumentException] {
      IvfPq.rebalanceSavedIndex(spark, idx, emb.filter(col("vec_id") < 400))
    }
    assert(e1.getMessage.contains("stale"))
    assert(AtomicLanding.linkedSnapshot(idx).get == snap0,
      "a refused rebalance must leave the index untouched")

    // the rebalance re-seeds to the canonical quantizers: bit-identical
    // to a one-shot build+save over the same corpus
    IvfPq.rebalanceSavedIndex(spark, idx, emb)
    val fresh = s"$dir/fresh"
    IvfPq.save(IvfPq.buildIndex(emb), fresh)
    assert(canon(idx) == canon(fresh))
    def rows(p: String, t: String) = AtomicLanding.read(spark, s"$p/$t")
      .collect().map(_.toSeq).toSet
    for (t <- Seq("codes", "n2"))
      assert(rows(idx, t) === rows(fresh, t),
        s"$t must match a one-shot build over the rebalance corpus")
  }

  test("a no-drift rebalance skips the corpus-sized rebuild and publishes nothing") {
    import graft.land.AtomicLanding
    val dir = Spool.dir("graft-pqnodrift")
    val idx = s"$dir/idx"
    // canonical-prefix build + identified growth with HIGHER ids: the
    // corpus's first-16 (coarse seeds) and first-16 residual slices
    // (PQ codebooks) are unchanged, so retraining would reproduce the
    // live quantizer pair bit-for-bit — the rebuild is provably a
    // no-op and the probe must prove it never runs
    IvfPq.save(IvfPq.buildIndex(emb.filter(col("vec_id") < 300)), idx,
      batchId = Some(0L))
    IvfPq.addToSavedIndex(spark, idx, emb.filter(col("vec_id") >= 300),
      batchId = Some(1L))
    val snap0 = AtomicLanding.linkedSnapshot(idx).get
    def canon(p: String) =
      IvfPq.probe(emb, IvfPq.load(spark, p), queries,
          k = 5, nProbe = 4, shortlist = 50)
        .orderBy("query_id", "rnk").collect().toSeq
    val before = canon(idx)
    val skips0 = IvfPq.rebalanceSkips.get()
    IvfPq.rebalanceSavedIndex(spark, idx, emb)
    assert(IvfPq.rebalanceSkips.get() == skips0 + 1,
      "the drift probe must skip the rebuild")
    assert(AtomicLanding.linkedSnapshot(idx).get == snap0,
      "a skipped rebalance must not publish a new generation")
    assert(canon(idx) == before)
    // a corpus carrying EXTRA ids is a grow-under-rebalance, never a
    // skip — the quantizers match but the new ids must rebuild in
    val wider = emb.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 90000L).as("vec_id"), col("embedding"),
          col("label")))
    IvfPq.rebalanceSavedIndex(spark, idx, wider)
    assert(IvfPq.rebalanceSkips.get() == skips0 + 1,
      "extras must disable the skip")
    assert(AtomicLanding.read(spark, s"$idx/n2").count() == emb.count() + 20,
      "the extra ids must be rebuilt into the index")
  }

  test("a concurrent append during rebalance is never lost: the member CAS forces a retry over the fresh state") {
    import graft.land.AtomicLanding
    val dir = Spool.dir("graft-pqrebalrace")
    val idx = s"$dir/idx"
    IvfPq.save(IvfPq.buildIndex(emb.filter(col("vec_id") < 480)), idx)
    // the racing append lands inside the rebalance's widest window —
    // after its census + rebuild, before any member commit. Its ids
    // ARE in the rebalance corpus, so the retry must carry them.
    var fired = false
    val retries0 = IvfPq.rebalanceRetries.get()
    IvfPq.rebalanceSavedIndex(spark, idx, emb,
      beforeMembersCommit = () => {
        if (!fired) {
          fired = true
          IvfPq.addToSavedIndex(spark, idx,
            emb.filter(col("vec_id") >= 480), batchId = Some(1L))
        }
      })
    assert(IvfPq.rebalanceRetries.get() > retries0,
      "the overtaken rewrite must have lost its CAS and retried")
    assert(AtomicLanding.read(spark, s"$idx/n2").count() == emb.count(),
      "the racing append's vectors must survive the rebalance")
    val fresh = s"$dir/fresh"
    IvfPq.save(IvfPq.buildIndex(emb), fresh)
    def canon(p: String) =
      IvfPq.probe(emb, IvfPq.load(spark, p), queries,
          k = 5, nProbe = 4, shortlist = 50)
        .orderBy("query_id", "rnk").collect().toSeq
    assert(canon(idx) == canon(fresh))
  }

  test("a rebalance crash before the root swing is unobservable, then heals forward") {
    import graft.land.AtomicLanding
    val dir = Spool.dir("graft-pqrebalcrash")
    val idx = s"$dir/idx"
    IvfPq.save(IvfPq.buildIndex(emb.filter(col("vec_id") >= 350)), idx)
    IvfPq.addToSavedIndex(spark, idx, emb.filter(col("vec_id") < 350),
      batchId = Some(1L))
    def canon(p: String) =
      IvfPq.probe(emb, IvfPq.load(spark, p), queries,
          k = 5, nProbe = 4, shortlist = 50)
        .orderBy("query_id", "rnk").collect().toSeq
    val drifted = canon(idx)
    final class Crash extends RuntimeException("die before root swing")
    intercept[Crash] {
      IvfPq.rebalanceSavedIndex(spark, idx, emb,
        beforeRootPublish = () => throw new Crash)
    }
    // all four members are rewritten-ahead, but the root pin is
    // untouched: probes keep scoring the drifted generation exactly
    assert(canon(idx) == drifted,
      "a probe inside the crash window must read the pinned generation")
    // the next append heals the COMPLETE rewritten quadruple forward
    // (n2-ahead certifies completeness), then replays as a no-op
    IvfPq.addToSavedIndex(spark, idx, emb.filter(col("vec_id") < 350),
      batchId = Some(1L))
    val fresh = s"$dir/fresh"
    IvfPq.save(IvfPq.buildIndex(emb), fresh)
    assert(canon(idx) == canon(fresh),
      "the heal must publish the rebalanced generation")
  }

  test("codes are the compressed representation: m small ints per vector") {
    val idx = IvfPq.buildIndex(emb, nLists = 8, m = 8, k = 16)
    // array layout (r21): ONE row per vector, all m codes as an array
    val perVec = idx.codes.groupBy("neighbor_id").count()
      .agg(min("count"), max("count")).head()
    assert(perVec.getLong(0) == 1L && perVec.getLong(1) == 1L)
    val shape = idx.codes
      .select(size(col("codes")).as("m"),
        array_min(col("codes")).as("lo"), array_max(col("codes")).as("hi"))
      .agg(min("m"), max("m"), min("lo"), max("hi")).head()
    assert(shape.getInt(0) == 8 && shape.getInt(1) == 8)
    assert(shape.getInt(2) >= 0 && shape.getInt(3) < 16)
  }

  test("assignCodes array layout equals the legacy per-sub winners") {
    // the map-only kernel path vs an inline relational reference: per
    // subspace the (d2, code)-smallest entry by exact integer
    // sub-distance, reassembled in subspace order
    val cents = Ivf.train(emb, 8, 0)
    val res = IvfPq.residuals(emb, cents)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val m = 8; val subDim = dim / m
    val seeds = res.orderBy(col("vec_id")).limit(16).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("res").toSeq)
    val cb: Seq[(Int, Int, Seq[Double])] = for {
      sI <- 0 until m
      (v, j) <- seeds.zipWithIndex.toSeq
    } yield (sI, j, v.slice(sI * subDim, (sI + 1) * subDim))
    val fast = IvfPq.assignCodes(res, cb, m, subDim)
    import spark.implicits._
    val slow = res
      .select(col("vec_id"), col("cid").as("l_cid"),
        explode(array((0 until m).map(sI => struct(lit(sI).as("sub"),
          slice(col("res"), sI * subDim + 1, subDim).as("svec"))): _*)).as("x"))
      .select(col("vec_id"), col("l_cid"), col("x.sub"), col("x.svec"))
      .join(broadcast(cb.toDF("sub", "code", "rvec")), "sub")
      .withColumn("d2", expr("dot_scaled(svec, svec)")
        - lit(2L) * expr("dot_scaled(svec, rvec)")
        + expr("dot_scaled(rvec, rvec)"))
      .groupBy(col("vec_id"), col("l_cid"), col("sub"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
      .groupBy(col("vec_id"), col("l_cid"))
      .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
      .select(col("vec_id"), col("l_cid"),
        expr("transform(sc, x -> x.code)").as("l_codes"))
    assert(fast.join(slow, Seq("vec_id"))
      .filter(col("codes") =!= col("l_codes") ||
        col("cid") =!= col("l_cid")).count() == 0L)
    assert(fast.count() == emb.count())
    assert(slow.count() == emb.count())
  }

  test("load and addToSavedIndex refuse a non-dense codebook or a per-sub codes layout") {
    import graft.land.AtomicLanding
    import spark.implicits._
    val idx = IvfPq.buildIndex(emb.filter(col("vec_id") >= 10), nLists = 8)
    val batch = emb.filter(col("vec_id") < 10)
    // save a good index, then publish one hand-written bad member
    def savedWith(member: String, bad: org.apache.spark.sql.DataFrame): String = {
      val p = Spool.dir("graft-ivfpqbad")
      IvfPq.save(idx, p)
      val snap = AtomicLanding.linkedSnapshot(p).get
      val v = AtomicLanding.commit(bad.coalesce(1), s"$p/$member")
      AtomicLanding.publishLinked(p, snap.members + (member -> v),
        expectedRoot = Some(snap.rootVersion))
      p
    }
    val gapped = savedWith("cb", idx.cb.filter(e => !(e._1 == 3 && e._2 == 15))
      .toDF("sub", "code", "rvec"))
    val perSub = savedWith("codes", idx.codes.select(col("neighbor_id"), col("cid"),
      posexplode(col("codes")).as(Seq("sub", "code"))))
    Seq(gapped -> "not dense", perSub -> "codes: array<int>").foreach { case (p, why) =>
      val n2Before = AtomicLanding.currentVersion(s"$p/n2")
      val refusals = Seq(
        intercept[IllegalStateException](IvfPq.load(spark, p)),
        intercept[IllegalStateException](IvfPq.addToSavedIndex(spark, p, batch)))
      refusals.foreach { e =>
        assert(e.getMessage.contains(p) && e.getMessage.contains(why), e.getMessage)
      }
      assert(AtomicLanding.currentVersion(s"$p/n2") == n2Before,
        "a refused append must commit nothing")
    }
  }

  test("probeShuffled equals probe row-for-row (self-join query set)") {
    val idx = IvfPq.buildIndex(emb, nLists = 8, m = 8, k = 16)
    val a = IvfPq.probe(emb, idx, emb, k = 3, nProbe = 2, shortlist = 20)
      .orderBy("query_id", "rnk").collect().toSeq
    val b = IvfPq.probeShuffled(emb, idx, emb, k = 3, nProbe = 2,
        shortlist = 20, salts = 4)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("probeShuffled plan broadcasts nothing query- or corpus-sized") {
    // With size-based auto-broadcast off, the only broadcasts allowed in
    // the unbounded-query probe are the two index-geometry hints
    // (centroids, codebooks) — the probe set, LUT, query embeddings, and
    // corpus codes/norms must all arrive via shuffle joins.
    val tuned = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = tuned.keys.map(k => k -> spark.conf.getOption(k)).toMap
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val idx = IvfPq.buildIndex(emb, nLists = 8, m = 8, k = 16)
      val q = IvfPq.probeShuffled(emb, idx, emb, k = 3, nProbe = 2,
        shortlist = 20, salts = 4)
      graft.Bench.materialize(q)
      val plan = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val nBroadcast = "BroadcastExchange".r.findAllMatchIn(plan).size
      assert(nBroadcast <= 2,
        s"expected only the centroid + codebook broadcasts, got $nBroadcast:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected shuffle joins for the query-sized sides:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a maintainer that dies between its codes and n2 folds does not brick the index") {
    import graft.land.AtomicLanding
    val dir = Spool.dir("graft-ivfpqfold")
    val idx = s"$dir/idx"
    IvfPq.save(IvfPq.buildIndex(emb.filter(col("vec_id") < 300)), idx,
      batchId = Some(0L))
    IvfPq.addToSavedIndex(spark, idx,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 350), batchId = Some(1L))
    IvfPq.addToSavedIndex(spark, idx,
      emb.filter(col("vec_id") >= 350 && col("vec_id") < 400), batchId = Some(2L))
    // the codes fold commits; the maintainer dies before its n2 fold and
    // before any root publish
    val pinned = AtomicLanding.linkedSnapshot(idx).get
    AtomicLanding.compactSmall(spark, s"$idx/codes", 512L * 1024)
    assert(AtomicLanding.currentVersion(s"$idx/codes").get > pinned.members("codes"),
      "the codes fold must have committed ahead of the root pin")
    IvfPq.addToSavedIndex(spark, idx, emb.filter(col("vec_id") >= 400),
      batchId = Some(3L))
    IvfPq.maintainSavedIndex(spark, idx, smallBytes = 512L * 1024)
    val healed = AtomicLanding.linkedSnapshot(idx).get
    assert(Seq("cents", "cb").forall(m => healed.members(m) == pinned.members(m)),
      "a crashed fold heals under the pinned quantizers")
    val fresh = s"$dir/fresh"
    IvfPq.save(IvfPq.buildIndex(emb), fresh)
    def rows(p: String, t: String) = AtomicLanding.read(spark, s"$p/$t")
      .collect().map(_.toSeq).toSet
    for (t <- Seq("codes", "n2"))
      assert(rows(idx, t) === rows(fresh, t),
        s"$t must match a one-shot build over the union corpus")
  }
}
