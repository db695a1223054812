package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.queries.Spool

/** The persisted semantic-dedup lifecycle: build / append / replay /
  * heal / incremental verdict — the seventh index tier held to the same
  * contract suite as the IVF/BM25/fuzzy/cluster states. */
class SemDedupStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshPath(): String =
    Spool.dir("graft-semstate") + "/st"

  private lazy val e = spark.read
    .parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def pert(src: org.apache.spark.sql.DataFrame, shift: Long,
      scale: Double) =
    src.select((col("vec_id") + shift).as("vec_id"),
      transform(col("embedding"),
        x => (x.cast("double") * lit(scale)).cast("float")).as("embedding"))

  test("buildSaved + verdictsSaved over the whole corpus is bit-identical to the one-shot SemDedup.dedup") {
    val base = e.unionByName(pert(e.filter(col("vec_id") < 20), 10000, 1.01))
    val p = freshPath()
    SemDedupState.buildSaved(base, p, nLists = 8)
    val saved = SemDedupState.verdictsSaved(spark, p, tau = 0.9)
      .orderBy("vec_id").collect().toSeq
    val oneShot = SemDedup.dedup(base, nLists = 8, tau = 0.9)
      .orderBy("vec_id").collect().toSeq
    assert(saved == oneShot,
      "the persisted pass must reproduce the in-session operator exactly")
  }

  test("growth is append-order-independent under the frozen quantizer") {
    val seed = e.filter(col("vec_id") < 30)
    val b1 = e.filter(col("vec_id") >= 30 && col("vec_id") < 60)
    val b2 = pert(e.filter(col("vec_id") < 10), 10000, 1.01)
    val (pA, pB) = (freshPath(), freshPath())
    SemDedupState.buildSaved(seed, pA, nLists = 8)
    SemDedupState.addToSaved(spark, pA, b1)
    SemDedupState.addToSaved(spark, pA, b2)
    SemDedupState.buildSaved(seed, pB, nLists = 8)
    SemDedupState.addToSaved(spark, pB, b2)
    SemDedupState.addToSaved(spark, pB, b1)
    assert(
      SemDedupState.verdictsSaved(spark, pA, 0.9).orderBy("vec_id").collect().toSeq
        == SemDedupState.verdictsSaved(spark, pB, 0.9).orderBy("vec_id").collect().toSeq,
      "frozen stats + frozen cents must make the grown state order-independent")
  }

  test("identified replays append nothing; id-less overlapping appends dedupe by vec_id") {
    val p = freshPath()
    SemDedupState.buildSaved(e.filter(col("vec_id") < 30), p, nLists = 8,
      batchId = Some(-1L))
    val batch = e.filter(col("vec_id") >= 30 && col("vec_id") < 50)
    SemDedupState.addToSaved(spark, p, batch, batchId = Some(0L))
    val n = SemDedupState.verdictsSaved(spark, p, 0.9).count()
    // at-least-once replay of a committed id: zero new rows
    SemDedupState.addToSaved(spark, p, batch, batchId = Some(0L))
    assert(SemDedupState.verdictsSaved(spark, p, 0.9).count() == n)
    // id-less append overlapping the durable state: anti-join dedupes,
    // only the genuinely-new vectors land
    SemDedupState.addToSaved(spark, p,
      e.filter(col("vec_id") >= 40 && col("vec_id") < 60))
    assert(SemDedupState.verdictsSaved(spark, p, 0.9).count() == n + 10)
  }

  test("crash between the codes commit and the root swing: readers keep the old generation, the retry and later appends heal forward") {
    import graft.land.AtomicLanding
    val p = freshPath()
    SemDedupState.buildSaved(e.filter(col("vec_id") < 30), p, nLists = 8,
      batchId = Some(-1L))
    val orphan = e.filter(col("vec_id") >= 30 && col("vec_id") < 40)
    intercept[RuntimeException] {
      SemDedupState.addToSaved(spark, p, orphan, batchId = Some(0L),
        beforeRootPublish =
          () => throw new RuntimeException("crash before root swing"))
    }
    // durable but unpublished: a root-resolving reader still sees the seed
    val snap = AtomicLanding.linkedSnapshot(p).get
    assert(AtomicLanding.currentVersion(s"$p/codes").get
      > snap.members("codes"), "live member must run ahead of the pin")
    assert(SemDedupState.verdictsSaved(spark, p, 0.9).count() == 30,
      "the crashed batch must be invisible through the root")
    // identified retry heals with zero re-reads; a later append lands on top
    SemDedupState.addToSaved(spark, p, orphan, batchId = Some(0L))
    assert(SemDedupState.verdictsSaved(spark, p, 0.9).count() == 40)
    SemDedupState.addToSaved(spark, p,
      e.filter(col("vec_id") >= 40 && col("vec_id") < 50), batchId = Some(1L))
    val healed = AtomicLanding.linkedSnapshot(p).get
    assert(healed.members("codes")
      == AtomicLanding.currentVersion(s"$p/codes").get,
      "the root must pin the live codes generation again")
    assert(SemDedupState.verdictsSaved(spark, p, 0.9).count() == 50)
  }

  test("dedupBatch: planted copies flagged with their standing original, sign-flips kept, and the pass is read-only") {
    import graft.land.AtomicLanding
    val p = freshPath()
    SemDedupState.buildSaved(e, p, nLists = 8)
    val before = SemDedupState.verdictsSaved(spark, p, 0.9)
      .orderBy("vec_id").collect().toSeq
    val rootBefore = AtomicLanding.currentRootVersion(p)
    val batch = pert(e.filter(col("vec_id") < 20), 10000, 1.01)
      .unionByName(pert(e.filter(col("vec_id") >= 20 && col("vec_id") < 30),
        20000, -1.0))
    val out = SemDedupState.dedupBatch(spark, p, batch, tau = 0.9).collect()
    assert(out.length == 30, "one verdict per batch vector, corpus emits nothing")
    val dup = out.filter(!_.getAs[Boolean]("kept"))
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("dup_of")).toMap
    (0L until 20L).foreach { v =>
      assert(dup.get(v + 10000).exists(w => w >= 0 && w < 10000),
        s"planted copy ${v + 10000} must dup against a STANDING witness")
    }
    out.filter(_.getAs[Long]("vec_id") >= 20000).foreach(r =>
      assert(r.getAs[Boolean]("kept"),
        s"sign-flipped ${r.getAs[Long]("vec_id")} must be novel"))
    // read-only: no root movement, standing verdicts untouched
    assert(AtomicLanding.currentRootVersion(p) == rootBefore)
    assert(SemDedupState.verdictsSaved(spark, p, 0.9)
      .orderBy("vec_id").collect().toSeq == before)
  }

  test("maintainSaved folds the micro-batch tail, keeps verdicts and replay-skip, and vacuums superseded generations") {
    import graft.land.AtomicLanding
    val p = freshPath()
    SemDedupState.buildSaved(e.filter(col("vec_id") < 30), p, nLists = 8,
      batchId = Some(-1L))
    (0 to 4).foreach { i =>
      SemDedupState.addToSaved(spark, p,
        e.filter(col("vec_id") >= 30 + i * 10 && col("vec_id") < 40 + i * 10),
        batchId = Some(i.toLong))
    }
    val codesT = s"$p/codes"
    assert(AtomicLanding.liveDirCount(codesT) == 6)
    val before = SemDedupState.verdictsSaved(spark, p, 0.9)
      .orderBy("vec_id").collect().toSeq
    val reclaimed = SemDedupState.maintainSaved(spark, p)
    assert(AtomicLanding.liveDirCount(codesT) == 1, "tail folded to one dir")
    assert(reclaimed.nonEmpty, "superseded generations reclaimed")
    assert(SemDedupState.verdictsSaved(spark, p, 0.9)
      .orderBy("vec_id").collect().toSeq == before,
      "the fold must not change a single verdict")
    // the batch-id watermark survived the fold: a replay still no-ops
    SemDedupState.addToSaved(spark, p,
      e.filter(col("vec_id") >= 70 && col("vec_id") < 80), batchId = Some(4L))
    assert(SemDedupState.verdictsSaved(spark, p, 0.9).count() == 80)
  }

  test("drift rebuild: buildSaved at the SAME path flips readers atomically from the old generation to the new") {
    import graft.land.AtomicLanding
    val p = freshPath()
    SemDedupState.buildSaved(e.filter(col("vec_id") < 30), p, nLists = 8)
    val rootBefore = AtomicLanding.currentRootVersion(p).get
    // a reader resolves the OLD generation before the rebuild
    val oldVerdicts = SemDedupState.verdictsSaved(spark, p, 0.9)
    val nOld = oldVerdicts.count()
    // rebuild over a bigger corpus (fresh stats, fresh cents) in place
    SemDedupState.buildSaved(e, p, nLists = 8)
    assert(AtomicLanding.currentRootVersion(p).get > rootBefore)
    assert(SemDedupState.verdictsSaved(spark, p, 0.9).count() == e.count(),
      "a post-rebuild resolve sees the NEW generation")
    assert(oldVerdicts.count() == nOld,
      "the pre-rebuild resolve still serves the old pinned pair")
  }

  test("a maintainSaved fold that crashes between its commit and the root CAS heals under the PINNED quantizer (a fold is NOT an append-chain superset)") {
    import graft.land.AtomicLanding
    val p = freshPath()
    SemDedupState.buildSaved(e.filter(col("vec_id") < 30), p, nLists = 8,
      batchId = Some(-1L))
    (0 to 2).foreach { i =>
      SemDedupState.addToSaved(spark, p,
        e.filter(col("vec_id") >= 30 + i * 10 && col("vec_id") < 40 + i * 10),
        batchId = Some(i.toLong))
    }
    val codesT = s"$p/codes"
    val pinned = AtomicLanding.linkedSnapshot(p).get
    val before = SemDedupState.verdictsSaved(spark, p, 0.9)
      .orderBy("vec_id").collect().toSeq
    // the fold commits (REPLACING the tail dirs — live dirs are NOT a
    // superset of the pinned dirs) and the maintainer dies before the
    // root CAS
    val folded = AtomicLanding.compactSmall(spark, codesT, Long.MaxValue)
    assert(folded > pinned.members("codes"), "fold must have committed")
    assert(AtomicLanding.linkedSnapshot(p).get.rootVersion
      == pinned.rootVersion, "root must still pin the pre-fold generation")
    // the next append heals forward FIRST: the folded codes re-pin under
    // the PINNED stats/cents (no quantizer movement), never a rewrite
    SemDedupState.addToSaved(spark, p,
      e.filter(col("vec_id") >= 60 && col("vec_id") < 70), batchId = Some(3L))
    val healed = AtomicLanding.linkedSnapshot(p).get
    assert(healed.members("stats") == pinned.members("stats")
      && healed.members("cents") == pinned.members("cents"),
      "a crashed fold's heal must keep the pinned quantizer")
    assert(healed.members("codes")
      == AtomicLanding.currentVersion(codesT).get)
    assert(SemDedupState.verdictsSaved(spark, p, 0.9)
      .orderBy("vec_id").collect().toSeq.take(before.size) == before,
      "the healed fold must not change a single standing verdict")
    assert(SemDedupState.verdictsSaved(spark, p, 0.9).count() == 70)
  }

  test("orphaned-stats-then-crashed-fold: a rebuild that died BEFORE its codes commit must never donate its stats/cents to a crashed fold's heal") {
    import graft.land.AtomicLanding
    val p = freshPath()
    SemDedupState.buildSaved(e.filter(col("vec_id") < 30), p, nLists = 8,
      batchId = Some(-1L))
    (0 to 1).foreach { i =>
      SemDedupState.addToSaved(spark, p,
        e.filter(col("vec_id") >= 30 + i * 10 && col("vec_id") < 40 + i * 10),
        batchId = Some(i.toLong))
    }
    val codesT = s"$p/codes"
    val pinned = AtomicLanding.linkedSnapshot(p).get
    // a drift rebuild over the full corpus commits NEW stats + cents and
    // dies BEFORE its codes commit — the new quantizer is an ORPHAN
    intercept[RuntimeException] {
      SemDedupState.buildSaved(e, p, nLists = 8,
        beforeCodesCommit =
          () => throw new RuntimeException("crash before codes commit"))
    }
    assert(AtomicLanding.currentVersion(s"$p/stats").get
      > pinned.members("stats"), "orphaned stats must be live-ahead")
    assert(AtomicLanding.currentVersion(codesT).get
      == pinned.members("codes"), "the rebuild never committed codes")
    // now a fold commits on the OLD chain (rows coded under the PINNED
    // envelope) and the maintainer dies before the root CAS
    val folded = AtomicLanding.compactSmall(spark, codesT, Long.MaxValue)
    assert(folded > pinned.members("codes"))
    // the heal must re-pin the PINNED quantizer with the folded codes —
    // publishing the orphaned stats over old-envelope codes would
    // quantize future batches with the new envelope and join them into
    // the old chain (the mixed generation)
    val batch = pert(e.filter(col("vec_id") < 10), 10000, 1.01)
    SemDedupState.addToSaved(spark, p, batch, batchId = Some(2L))
    val healed = AtomicLanding.linkedSnapshot(p).get
    assert(healed.members("stats") == pinned.members("stats")
      && healed.members("cents") == pinned.members("cents"),
      "the orphaned quantizer must NOT be healed over old-envelope codes")
    // functional proof: the planted 1.01x copies witness their standing
    // originals, which only happens if the batch was quantized with the
    // same (pinned) envelope as the corpus
    val out = SemDedupState.verdictsSaved(spark, p, 0.9)
    val dups = out.where(!col("kept") && col("vec_id") >= 10000)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(dups == (0L until 10L).map(_ + 10000).toSet,
      s"batch copies must witness under the pinned generation (got $dups)")
  }

  test("legacy pre-mark chains ADOPT the generation mark on their first fold — orphaned stats above a markless chain never corrupt a crashed fold's heal") {
    import graft.land.AtomicLanding
    val p = freshPath()
    SemDedupState.buildSaved(e.filter(col("vec_id") < 30), p, nLists = 8,
      batchId = Some(-1L))
    (0 to 1).foreach { i =>
      SemDedupState.addToSaved(spark, p,
        e.filter(col("vec_id") >= 30 + i * 10 && col("vec_id") < 40 + i * 10),
        batchId = Some(i.toLong))
    }
    val codesT = s"$p/codes"
    // simulate a chain written by the PRE-mark binary: strip the
    // __gen__ wmark lines from the live codes manifest
    val v = AtomicLanding.currentVersion(codesT).get
    val mPath = java.nio.file.Paths.get(codesT, "manifests", f"m-$v%010d")
    val stripped = java.nio.file.Files.readAllLines(mPath)
    java.nio.file.Files.write(mPath,
      String.join("\n",
        stripped.stream.filter(l => !l.contains("wmark __gen__")).toArray(
          n => new Array[String](n)): _*).getBytes("UTF-8"))
    assert(AtomicLanding.lastBatchId(codesT, "__gen__").isEmpty,
      "the chain must now look pre-mark")
    val pinned = AtomicLanding.linkedSnapshot(p).get
    // a drift rebuild commits NEW stats/cents and dies BEFORE its codes
    // commit — the orphaned quantizer sits above a MARKLESS chain (the
    // shape where dir lineage alone cannot tell a crashed whole-tail
    // fold from a rewrite)
    intercept[RuntimeException] {
      SemDedupState.buildSaved(e, p, nLists = 8,
        beforeCodesCommit =
          () => throw new RuntimeException("crash before codes commit"))
    }
    // the fold STAMPS the chain's generation as it commits (adoption),
    // then the maintainer dies before the root CAS
    val snap2 = AtomicLanding.linkedSnapshot(p).get
    val folded = AtomicLanding.compactSmall(spark, codesT, Long.MaxValue,
      extraMarks = Map("__gen__" -> snap2.members("stats")))
    assert(folded > pinned.members("codes"))
    assert(AtomicLanding.lastBatchId(codesT, "__gen__")
      .contains(pinned.members("stats")), "the fold must adopt the mark")
    // the heal keeps the PINNED quantizer — the orphan is refused
    val batch = pert(e.filter(col("vec_id") < 10), 10000, 1.01)
    SemDedupState.addToSaved(spark, p, batch, batchId = Some(2L))
    val healed = AtomicLanding.linkedSnapshot(p).get
    assert(healed.members("stats") == pinned.members("stats")
      && healed.members("cents") == pinned.members("cents"),
      "the orphaned quantizer must NOT be healed over old-envelope codes")
    val out = SemDedupState.verdictsSaved(spark, p, 0.9)
    val dups = out.where(!col("kept") && col("vec_id") >= 10000)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(dups == (0L until 10L).map(_ + 10000).toSet,
      s"batch copies must witness under the pinned generation (got $dups)")
  }

  test("a RETRIED crashed rebuild heals its predecessor forward first — stacked orphans can never re-pin the original quantizer under rebuilt codes") {
    import graft.land.AtomicLanding
    val p = freshPath()
    SemDedupState.buildSaved(e.filter(col("vec_id") < 30), p, nLists = 8)
    val v0 = AtomicLanding.linkedSnapshot(p).get
    // rebuild 1 over the full corpus crashes before its root swing:
    // live stats/cents/codes all ran ahead of the pin
    intercept[RuntimeException] {
      SemDedupState.buildSaved(e, p, nLists = 8,
        beforeRootSwing = () => throw new RuntimeException("crash 1"))
    }
    // the RETRY must heal rebuild 1's generation forward BEFORE
    // committing anything of its own; it then crashes after committing
    // its own (now stacked-orphan) stats/cents but before its codes
    intercept[RuntimeException] {
      SemDedupState.buildSaved(e, p, nLists = 8,
        beforeCodesCommit = () => throw new RuntimeException("crash 2"))
    }
    val snap = AtomicLanding.linkedSnapshot(p).get
    assert(snap.members("stats") > v0.members("stats"),
      "the retry must heal rebuild 1's generation into the root first")
    assert(SemDedupState.verdictsSaved(spark, p, 0.9).count() == e.count(),
      "readers see rebuild 1's full corpus after the heal")
    // a later append lands under rebuild 1's (pinned) quantizer — the
    // stacked orphan must never be published over rebuild-1 codes
    val batch = pert(e.filter(col("vec_id") < 10), 10000, 1.01)
    SemDedupState.addToSaved(spark, p, batch)
    val healed = AtomicLanding.linkedSnapshot(p).get
    assert(healed.members("stats") == snap.members("stats")
      && healed.members("cents") == snap.members("cents"),
      "the stacked orphan quantizer must not be published")
    val out = SemDedupState.verdictsSaved(spark, p, 0.9)
    val dups = out.where(!col("kept") && col("vec_id") >= 10000)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(dups == (0L until 10L).map(_ + 10000).toSet,
      s"batch copies must witness under rebuild 1's generation (got $dups)")
  }

  test("drift probe + gated rebuild: in-envelope growth SKIPS (flat probe, no rewrite); out-of-envelope growth rebuilds to the one-shot bits") {
    import graft.land.AtomicLanding
    val p = freshPath()
    val seed = e.filter(col("vec_id") < 60)
    SemDedupState.buildSaved(seed, p, nLists = 8)
    // in-envelope growth: 0.99x-scaled copies of seed rows — strictly
    // inside the frozen envelope (every dim shrinks toward 0, which
    // sits between the seed's per-dim mn<0<mx), routed like their
    // originals, so neither statistic should move
    val inEnv = pert(e.filter(col("vec_id") < 30), 10000, 0.99)
    SemDedupState.addToSaved(spark, p, inEnv)
    val probe0 = SemDedupState.driftProbe(spark, p)
    val rootBefore = AtomicLanding.currentRootVersion(p).get
    val skipsBefore = SemDedupState.rebuildSkips.get()
    assert(!SemDedupState.rebuildIfDrifted(spark, p,
      seed, nLists = 8), s"undrifted state must skip (probe: $probe0)")
    assert(SemDedupState.rebuildSkips.get() == skipsBefore + 1)
    assert(AtomicLanding.currentRootVersion(p).get == rootBefore,
      "a skipped rebuild must not move the root")

    // drifted growth: a 3x-scaled tail clamps far outside the frozen
    // envelope — the probe must fire and the rebuild must leave the
    // state bit-identical to a one-shot build over the full corpus
    val drifted = e.filter(col("vec_id") >= 90 && col("vec_id") < 120)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") * lit(3.0d)).cast("float")).as("embedding"))
    SemDedupState.addToSaved(spark, p, drifted)
    val probe1 = SemDedupState.driftProbe(spark, p)
    assert(probe1.clampRate > 0.05,
      s"a 3x tail must clamp heavily (probe: $probe1)")
    val full = seed.unionByName(inEnv).unionByName(drifted)
    assert(SemDedupState.rebuildIfDrifted(spark, p, full, nLists = 8),
      "a drifted state must rebuild")
    assert(SemDedupState.verdictsSaved(spark, p, 0.9)
        .orderBy("vec_id").collect().toSeq
      == SemDedup.dedup(full, nLists = 8, tau = 0.9)
        .orderBy("vec_id").collect().toSeq,
      "the gated rebuild must equal the one-shot build bit-for-bit")
    // post-rebuild the envelope covers everything: the probe re-arms low
    assert(!SemDedupState.rebuildIfDrifted(spark, p, full, nLists = 8),
      "a freshly rebuilt state must skip")
  }

  test("a drift rebuild that crashes before its root swing never heals into a MIXED generation: the next append publishes the new stats/cents WITH the new codes") {
    import graft.land.AtomicLanding
    val p = freshPath()
    SemDedupState.buildSaved(e.filter(col("vec_id") < 30), p, nLists = 8)
    // drift rebuild over the full corpus CRASHES between its member
    // commits and the root swing — live stats/cents/codes all ran ahead
    intercept[RuntimeException] {
      SemDedupState.buildSaved(e, p, nLists = 8,
        beforeRootSwing = () => throw new RuntimeException("crash pre-swing"))
    }
    assert(SemDedupState.verdictsSaved(spark, p, 0.9).count() == 30,
      "readers stay on the OLD generation after the crashed rebuild")
    // the next append must NOT publish old stats/cents over the rebuilt
    // codes (rows coded under the new envelope joined to the old
    // quantizer — silent corruption); it heals to the NEW generation
    // and lands on top of it
    val batch = pert(e.filter(col("vec_id") < 10), 10000, 1.01)
    SemDedupState.addToSaved(spark, p, batch)
    val n = e.count()
    val out = SemDedupState.verdictsSaved(spark, p, 0.9)
    assert(out.count() == n + 10,
      "healed to the rebuilt corpus plus the appended batch")
    // the planted copies dup against their originals — only true if the
    // batch was quantized with the HEALED (new) stats/cents
    val dups = out.where(!col("kept") && col("vec_id") >= 10000)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(dups == (0L until 10L).map(_ + 10000).toSet,
      s"batch copies must witness under the healed generation (got $dups)")
  }
}
