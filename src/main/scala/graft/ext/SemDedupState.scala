package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.land.AtomicLanding

/** The PERSISTED semantic-dedup state — [[SemDedup]]'s quantized codes
  * and cluster assignment as a growable ACID artifact, the seventh
  * index lifecycle in the engine (after the fuzzy-signature, BM25, IVF,
  * IVF-PQ, cluster-state and decontamination-reference tiers, all of
  * which build / append / stream / probe the same way).
  *
  * Why persist at all: [[SemDedup.dedup]] and [[SemDedup.dedupWithIndex]]
  * re-quantize the WHOLE corpus every pass — fine for a one-shot
  * curation sweep, wrong for the daily shape where a 100 TB corpus
  * stands and batches arrive. The state freezes the expensive corpus
  * passes into three [[AtomicLanding]] members under one linked root:
  *
  *  - `stats`  — per-dimension (pos, mn, mx) from the SEED corpus: the
  *    frozen scalar quantizer ([[Quantize.int8CodesWith]]). Frozen is
  *    what makes growth order-independent: every batch codes against
  *    the same envelope, so a grown state is bit-identical to a
  *    one-shot build with the same seed (out-of-envelope batch values
  *    clamp to the int8 boundary — deterministic either way).
  *  - `cents`  — (cid, cvec, cn2): the first `nLists` SEED code vectors
  *    ([[SemDedup.seedCents]], the IVF iters = 0 discipline). Frozen
  *    for the same reason.
  *  - `codes`  — (vec_id, cid, codes, n2): the coded + assigned corpus,
  *    the only member that grows. Appends ride the per-writer
  *    batch-id idempotence channel, so an at-least-once streaming
  *    ingest replaying a committed micro-batch heals the root with
  *    ZERO code reads ([[graft.land.LinkedIndex]], the lifecycle every
  *    saved index shares).
  *
  * Scale census: a batch append costs one batch-sized quantize + one
  * bounded cents broadcast + one batch-keyed argmax window — FLAT in
  * the corpus. [[dedupBatch]] (the incremental verdict) joins the batch
  * against ONLY its clusters' standing members — the corpus never
  * self-joins and standing verdicts are never recomputed, the
  * batch-vs-corpus shape every other dedup tier gates
  * ([[Dedup.minhashNearDupPairsAgainst]]). [[verdictsSaved]] (the full
  * sweep) pays only the within-cluster pairwise term — quantization and
  * assignment are already durable.
  */
object SemDedupState {

  /** The state's [[graft.land.LinkedIndex]] lifecycle: `stats` and
    * `cents` frozen, `codes` growing; a batch quantizes with the pinned
    * stats and assigns against the pinned centroids ([[assignBatch]]). */
  private val saved = new graft.land.LinkedIndex("no semantic-dedup state",
    Seq("stats", "cents"), Seq("codes" -> Seq("vec_id")))((path, snap, batch) =>
    Seq(assignBatch(batch.sparkSession, path, snap, batch)))

  /** Freeze stats + centroids from `emb` (the seed corpus), code and
    * assign it, and publish the three members under one root. `batchId`
    * is the seed watermark ([[graft.ext.Ivf.buildSavedIndex]] note): a
    * streaming ingest whose engine ids start at 0 seeds with -1.
    *
    * A rebuild AT AN EXISTING PATH is the drift rebuild; it first heals
    * a committed-but-unpublished predecessor forward
    * ([[graft.land.LinkedIndex.healPredecessor]]), so RETRYING a crashed
    * rebuild never stacks a second orphaned quantizer on the first's
    * unpublished codes. */
  def buildSaved(emb: DataFrame, path: String, nLists: Int,
      batchId: Option[Long] = None,
      beforeRootSwing: () => Unit = () => (),
      beforeCodesCommit: () => Unit = () => ()): String = {
    saved.healPredecessor(path)
    val stats = Quantize.dimStats(emb).localCheckpoint(true)
    val withN2 = coded(emb, stats)
    val cents = SemDedup.seedCents(withN2, nLists)
    saved.rebuild(path, Seq(stats, cents),
      Seq(SemDedup.assignToCodeCents(withN2, cents)), batchId,
      beforeMember = m => if (m == "codes") beforeCodesCommit(),
      beforePublish = beforeRootSwing)
    path
  }

  private def coded(emb: DataFrame, stats: DataFrame): DataFrame =
    Quantize.int8CodesWith(emb, stats).localCheckpoint(true)
      .select(col("vec_id"), col("codes"),
        SemDedup.intDot(col("codes"), col("codes")).as("n2"))

  /** Quantize `batch` with the FROZEN stats and assign it against the
    * FROZEN centroids — the batch-sized pass both [[addToSaved]] and
    * [[dedupBatch]] share. */
  private def assignBatch(spark: SparkSession, path: String,
      snap: AtomicLanding.LinkedSnapshot, batch: DataFrame): DataFrame =
    SemDedup.assignToCodeCents(
      coded(batch, saved.member(spark, path, snap, "stats")),
      saved.member(spark, path, snap, "cents"))

  /** Append a batch of vectors to the persisted codes — quantized with
    * the frozen stats, assigned against the frozen centroids, committed
    * under the `writer` channel's batch-id watermark through the
    * [[graft.land.LinkedIndex.appendOnce]] ladder: a known-committed id
    * heals the root with no reads; a known-new id skips the O(state)
    * dedupe anti-join; an id-less append pays the anti-join. Vec ids
    * are immutable-by-contract (re-submitting a vec_id with a different
    * embedding is undefined — the engine-wide persisted-index rule). */
  def addToSaved(spark: SparkSession, path: String, batch: DataFrame,
      batchId: Option[Long] = None,
      beforePublish: () => Unit = () => (),
      beforeRootPublish: () => Unit = () => (),
      writer: String = ""): Unit =
    saved.append(path, batch, batchId, writer, dedupeStateScans,
      beforePublish, beforeRootPublish)

  /** O(state) dedupe scans taken by id-less [[addToSaved]] appends. */
  private[ext] val dedupeStateScans =
    new java.util.concurrent.atomic.AtomicLong

  /** State MAINTENANCE — the physical tail fold every persisted tier
    * carries ([[graft.land.LinkedIndex.maintain]]): a streaming ingest
    * leaves one small dir per micro-batch; fold the sub-`smallBytes`
    * tail into one dir ([[AtomicLanding.compactSmall]] — never rewrites
    * the body), re-pin the root, and vacuum superseded generations
    * (quiescence-guarded). The batch-id watermark survives the fold, so
    * replay-skip keeps working. One maintainer at a time; concurrent
    * reads and appends are safe. Returns reclaimed paths.
    *
    * DRIFT: when the corpus outgrows the seed distribution (the frozen
    * quantizer's routing decays), rebuild with [[buildSaved]] AT THE
    * SAME PATH — each member commits a fresh version and ONE root CAS
    * flips readers from the old generation to the new atomically
    * (spec'd); a crash mid-rebuild leaves the old generation live. */
  def maintainSaved(spark: SparkSession, path: String,
      smallBytes: Long = 64L * 1024 * 1024,
      reservationGraceMs: Long = 600000L,
      retainRootGenerations: Int = 0): Seq[String] =
    saved.maintain(spark, path, smallBytes, reservationGraceMs,
      retainRootGenerations)

  /** What the drift detector measured — both statistics estimate how
    * far the standing corpus has outgrown the FROZEN seed quantizer:
    *  - `clampRate`: fraction of sampled code values sitting AT the
    *    int8 boundary (±127). In-envelope data codes interior (a seed
    *    dim attains its own min/max on ~2 rows, so the seed's rate is
    *    ~2·dims/rows ≈ 0); out-of-envelope values CLAMP to the
    *    boundary, losing resolution — cosine quality decays exactly
    *    there, so the rate IS the damage estimate.
    *  - `occSkew`: nLists × the hottest cluster's share of the sampled
    *    rows (1.0 = uniform routing). Frozen centroids route drifted
    *    data into ever-fewer clusters; the within-cluster pairwise
    *    term is quadratic in cluster size, so a hot cluster is the
    *    cost blow-up signal even when values stay in-envelope. */
  final case class DriftStats(clampRate: Double, occSkew: Double,
      probedRows: Long, probedDirs: Int, totalDirs: Int)

  /** BOUNDED-COST drift detector over the persisted codes — never a
    * corpus scan: reads the NEWEST `maxDirs` dirs of the pinned codes
    * snapshot (drift lives in recent appends; each append dir is
    * batch-sized), at most `rowsPerDir` rows from each (a dir folded
    * from the whole tail samples its prefix — an estimate, which is
    * the contract), aggregates one bounded (≤ nLists rows) census on
    * the executors. Cost is flat in the corpus: O(maxDirs · rowsPerDir)
    * rows whatever the standing size. */
  def driftProbe(spark: SparkSession, path: String, maxDirs: Int = 8,
      rowsPerDir: Int = 65536): DriftStats = {
    val snap = saved.snapshot(path)
    val dirPaths = AtomicLanding.dirPathsOfVersion(
      s"$path/codes", snap.members("codes"))
    val probed = dirPaths.takeRight(maxDirs)
    val nLists = saved.member(spark, path, snap, "cents").count().toInt
    val perCid = probed.map(d => spark.read.parquet(d)
        .select(col("cid"), col("codes")).limit(rowsPerDir))
      .reduce(_ unionByName _)
      .select(col("cid"),
        aggregate(col("codes"), lit(0L),
          (acc, v) => acc + when(abs(v) === lit(127L), lit(1L))
            .otherwise(lit(0L))).as("clamped"),
        size(col("codes")).cast("long").as("dims"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("clamped")).as("clamped"),
        sum(col("dims")).as("vals"))
      .collect() // bounded: ≤ nLists rows, the audited-census shape
    val rows = perCid.map(_.getAs[Long]("n")).sum
    val clamped = perCid.map(_.getAs[Long]("clamped")).sum
    val vals = perCid.map(_.getAs[Long]("vals")).sum
    DriftStats(
      clampRate = if (vals == 0L) 0.0 else clamped.toDouble / vals,
      occSkew = if (rows == 0L) 0.0
        else perCid.map(_.getAs[Long]("n")).max.toDouble / rows * nLists,
      probedRows = rows, probedDirs = probed.size,
      totalDirs = dirPaths.size)
  }

  /** The GATED drift rebuild — the decision seam [[maintainSaved]]'s
    * DRIFT note promises ([[graft.ext.Ivf.rebalanceSavedIndex]]'s
    * contract, with the probe SUB-LINEAR instead of a retrain):
    * [[driftProbe]] the standing state, and only when the clamp rate
    * or the occupancy skew crosses its threshold, [[buildSaved]] at
    * the same path over `corpus` (the caller supplies the RAW
    * embeddings — the codes member deliberately stores 4×-compressed
    * int8 codes, so the pipeline's embedding store is the rebuild
    * source). One root CAS flips readers to the new generation;
    * replay watermarks carry forward through the rebuild's commits.
    * Returns true iff it rebuilt; a skip bumps [[rebuildSkips]]. */
  def rebuildIfDrifted(spark: SparkSession, path: String,
      corpus: DataFrame, nLists: Int,
      clampThreshold: Double = 0.05, skewThreshold: Double = 4.0,
      maxDirs: Int = 8, rowsPerDir: Int = 65536): Boolean = {
    val ds = driftProbe(spark, path, maxDirs, rowsPerDir)
    if (ds.clampRate < clampThreshold && ds.occSkew < skewThreshold) {
      rebuildSkips.incrementAndGet(); false
    } else { buildSaved(corpus, path, nLists); true }
  }

  /** Rebuilds [[rebuildIfDrifted]] SKIPPED because the drift probe
    * stayed under both thresholds — the proof seam that an undrifted
    * state never pays a corpus-sized rebuild. */
  private[graft] val rebuildSkips =
    new java.util.concurrent.atomic.AtomicLong

  /** The frozen quantizer stats at the current root — (pos, mn, mx),
    * the member a warm serving path passes into consumers that would
    * otherwise re-train per call ([[Rerank.rerank]]'s `vecStats`). */
  def statsSaved(spark: SparkSession, path: String): DataFrame = {
    val snap = saved.snapshot(path)
    saved.member(spark, path, snap, "stats")
  }

  /** Full-corpus verdicts at the current root — [[SemDedup.verdicts]]
    * over the PERSISTED assignment: no quantization, no assignment,
    * only the within-cluster pairwise term. With the frozen quantizer
    * the result is append-order-independent and identical to a one-shot
    * [[SemDedup.dedup]] whose quantizer saw only the seed. */
  def verdictsSaved(spark: SparkSession, path: String,
      tau: Double): DataFrame = {
    val snap = saved.snapshot(path)
    SemDedup.verdicts(saved.member(spark, path, snap, "codes"), tau)
  }

  /** INCREMENTAL semantic dedup — verdict an arriving batch against the
    * standing corpus WITHOUT re-verdicting the corpus (the shape a
    * daily pipeline runs; the semantic sibling of
    * [[Dedup.minhashNearDupPairsAgainst]]): the batch quantizes with
    * the frozen stats, assigns against the frozen centroids, and
    * pairwise-compares ONLY against its own clusters' standing members.
    * The corpus never self-joins and its verdicts are untouched (this
    * pass reads, never writes). A batch vector is a duplicate iff some
    * SAME-CLUSTER standing vector is within `tau`; `dup_of` records the
    * smallest standing witness (-1 when kept). Batch-internal pairs are
    * NOT scored — land kept batches via [[addToSaved]] and they become
    * standing witnesses for the next batch (the incremental contract
    * every other dedup tier carries). */
  def dedupBatch(spark: SparkSession, path: String, batch: DataFrame,
      tau: Double): DataFrame = {
    val snap = saved.snapshot(path)
    // the batch assignment is referenced twice below (the dup join and
    // the final spine) — pin it once or the cents read, broadcast and
    // per-vector argmax window run twice per call (the Rerank pairs-pin
    // discipline; the batch is bounded by contract)
    val asn = assignBatch(spark, path, snap, batch).localCheckpoint(true)
    val standing = saved.member(spark, path, snap, "codes")
      .select(col("cid"), col("vec_id").as("va"),
        col("codes").as("ca"), col("n2").as("na"))
    val dup = asn
      .select(col("cid"), col("vec_id").as("vb"),
        col("codes").as("cb"), col("n2").as("nb"))
      .join(standing, Seq("cid"))
      .where(SemDedup.qcos(SemDedup.intDot(col("ca"), col("cb")),
        col("na"), col("nb")) >= lit(tau))
      .groupBy(col("vb").as("vec_id"))
      .agg(min(col("va")).as("dup_witness"))
    asn.select(col("vec_id"), col("cid"))
      .join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("dup_witness"), lit(-1L)).as("dup_of"),
        col("dup_witness").isNull.as("kept"))
  }
}
