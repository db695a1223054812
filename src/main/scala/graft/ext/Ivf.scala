package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Similarity.dotScaled

/** IVF (inverted-file) approximate nearest neighbors — the second scale
  * path next to hyperplane LSH: a coarse quantizer of `nLists` centroids
  * is trained with a few Lloyd iterations of DISTRIBUTED k-means (each
  * iteration is one assign job + one per-dimension mean job; only the
  * k x dim centroid matrix ever reaches the driver), every vector is
  * assigned to its nearest centroid's list, and a query ranks exactly
  * only within its `nProbe` nearest lists — |probed lists| / |all lists|
  * of the corpus instead of all of it.
  *
  * Centroid means use float averages, so centroids (and therefore
  * recall, not correctness) can drift in the last bits across cluster
  * layouts — the exact verify inside the probed lists is unaffected.
  */
object Ivf {

  private def centroidDf(spark: org.apache.spark.sql.SparkSession,
      cents: Seq[(Int, Seq[Float])]): DataFrame = {
    import spark.implicits._
    cents.toDF("cid", "cvec")
  }

  /** (vec_id, cid): each vector's nearest centroid by dot product
    * (≡ nearest by L2 for normalized vectors). Projection of
    * [[assignWith]] — kept for callers that only need the id pair. */
  def assign(emb: DataFrame, cents: Seq[(Int, Seq[Float])]): DataFrame =
    assignWith(emb, cents).select(col("vec_id"), col("cid"))

  /** `emb`'s columns + `cid` — the MAP-ONLY assignment (guide §2.4:
    * remove shuffles outright): the per-vector argmax runs as the
    * native [[graft.functions.NearestCentroidDot]] expression (max
    * exact scaled-integer dot, ties to the smaller cid — a total,
    * engine-independent order), computed in place with ZERO exchange.
    * The embedding stays ON the row, so call sites never pay the
    * corpus-sized `join(emb, "vec_id")` re-attach the two-step
    * assign-then-join shape required — at 100 TB that join shuffled the
    * wide embedding column on both sides just to recover a column the
    * row already had. */
  private[ext] def assignWith(emb: DataFrame,
      cents: Seq[(Int, Seq[Float])]): DataFrame = {
    // the centroid matrix is plan-time reference state and the argmax is
    // one generated loop per row — zero exchange, zero per-candidate
    // allocation (a greatest-over-structs chain measured 2× slower on
    // the PQ twin; an HOF fold drops the dot to interpreted eval)
    val sorted = cents.sortBy(_._1)
    emb.withColumn("cid", org.apache.spark.sql.GraftShims.column(
      graft.functions.NearestCentroidDot(
        org.apache.spark.sql.GraftShims.expression(col("embedding")),
        sorted.map(_._1), sorted.map(_._2.map(_.toDouble)))))
  }

  /** The rows holding the `n` smallest vec_ids, found WITHOUT a
    * corpus-wide scan of the wide embedding column: a narrow id-only
    * top-n (one column shuffles nothing past n rows per partition)
    * yields the n-th smallest id, then a `vec_id <=` predicate — pushed
    * to the parquet scan, where row-group min/max stats prune every
    * group past the id prefix — bounds the wide read. Equivalent to
    * feeding the whole frame to `orderBy(vec_id).limit(n)` (the filter
    * keeps a superset of the top-n rows; callers re-sort and re-limit),
    * so seed selection is bit-identical. Falls back to the unpruned
    * frame when ids can be null (a null sorts first under Spark's
    * ascending order and a `<=` filter would drop it).
    *
    * SIZE-GATED: the prefix route costs one extra narrow job, which
    * only pays for itself once the wide column is the dominant bytes —
    * below 8 MB of COMPRESSED input (Catalyst plan statistics, free: no
    * job; the threshold is deliberately low because parquet compression
    * understates scan cost, especially on repetitive fixtures) the
    * single TakeOrdered is strictly cheaper, so small corpora keep the
    * old one-pass path. Unknown sizes report huge and take the prefix
    * route, the safe direction.
    *
    * STABLE-SNAPSHOT ASSUMPTION: the prefix route reads the source
    * twice (narrow top-n job, then the filtered wide scan), so its
    * equivalence to a single TakeOrdered holds only if the data is
    * stable between the two jobs. Every in-engine caller satisfies
    * this — train() runs inside build/rebalance over a version-pinned
    * [[graft.land.AtomicLanding]] member read (a concurrent append
    * publishes a NEW version; the pinned frame never changes). Callers
    * handing in an unversioned, concurrently-overwritten path would
    * lose that guarantee — pass a pinned frame, as the saved-index
    * paths do. */
  private[graft] def seedPrefix(emb: DataFrame, n: Int): DataFrame = {
    if (emb.queryExecution.optimizedPlan.stats.sizeInBytes < (8L << 20))
      return emb
    val top = emb.select(col("vec_id"))
      .orderBy(col("vec_id")).limit(n).collect()
    if (top.isEmpty || top.exists(_.isNullAt(0))) emb
    else emb.filter(col("vec_id") <= lit(top.last.get(0)))
  }

  /** Lloyd iterations: seed with the first `nLists` vectors (by vec_id —
    * deterministic), then alternate assign / per-dimension mean. The
    * seed fetch goes through [[seedPrefix]]: with iters = 0 (the
    * deterministic rebalance-probe mode) that makes the whole train
    * call id-scan-priced instead of a wide-column corpus pass. */
  def train(emb: DataFrame, nLists: Int, iters: Int = 2): Seq[(Int, Seq[Float])] = {
    var cents: Seq[(Int, Seq[Float])] =
      seedPrefix(emb, nLists).orderBy(col("vec_id")).limit(nLists)
        .collect().toSeq
        .zipWithIndex.map { case (r, i) =>
          i -> r.getAs[scala.collection.Seq[Float]]("embedding").toSeq
        }
    (1 to iters).foreach { _ =>
      val assigned = assignWith(emb, cents)
        .select(col("cid"), posexplode(col("embedding")))
      val means = assigned.groupBy(col("cid"), col("pos"))
        .agg(avg(col("col").cast("double")).as("m"))
        .collect()
        .groupBy(_.getAs[Int]("cid"))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getAs[Int]("pos"))
            .map(_.getAs[Double]("m").toFloat).toSeq
        }
      // a list that lost every member keeps its previous centroid
      cents = cents.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
    }
    cents
  }

  /** A built IVF index: the trained coarse quantizer plus the
    * materialized inverted lists — built ONCE, probed many times (the
    * production shape: index build is the expensive corpus pass; queries
    * only pay the probe). `lists` is checkpointed so repeated probes
    * never re-run training or assignment. Norms are NOT materialized:
    * the probe computes both norms inline from the embeddings it already
    * holds (exact integer math — no drift), so the index carries no
    * second corpus-sized table and the probe plan has zero corpus-scale
    * shuffles after the list join. */
  final case class Index(
      cents: Seq[(Int, Seq[Float])],
      lists: DataFrame) // (neighbor_id, cid, ce = embedding)

  /** One corpus pass: train the quantizer, assign every vector to its
    * list, materialize the lists. */
  def buildIndex(emb: DataFrame, nLists: Int = 16, iters: Int = 2): Index = {
    val cents = train(emb, nLists, iters)
    Index(cents, listRows(emb, cents).localCheckpoint(true))
  }

  /** `emb` as inverted-list rows (neighbor_id, cid, ce) under `cents`. */
  private def listRows(emb: DataFrame, cents: Seq[(Int, Seq[Float])]): DataFrame =
    assignWith(emb, cents).select(col("vec_id").as("neighbor_id"), col("cid"),
      col("embedding").as("ce"))

  /** O(index) dedupe scans taken by id-less [[addToSavedIndex]]
    * appends — the proof seam that an identified batch (replayed OR
    * new) never pays the live-lists anti-join. */
  private[ext] val dedupeListScans =
    new java.util.concurrent.atomic.AtomicLong

  /** Append a batch to an existing index WITHOUT retraining: arriving
    * vectors are assigned to the FROZEN coarse quantizer and unioned
    * into the inverted lists — the production ingest shape (the corpus
    * pass built the index once; each batch pays one assign job that
    * scales with the batch). Recall characteristics remain those of the
    * original quantizer; retrain when distribution drift matters. */
  def addToIndex(index: Index, batch: DataFrame): Index = {
    // replay-safe: an at-least-once ingest can resend vectors already
    // indexed; a duplicate list row would make probe() emit the same
    // neighbor at two ranks and silently evict the true k-th answer
    val fresh = batch.join(
        index.lists.select(col("neighbor_id").as("vec_id")),
        Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    val lists = listRows(fresh, index.cents)
      .unionByName(index.lists)
      .localCheckpoint(true)
    Index(index.cents, lists)
  }

  /** Probe an existing index: rank by exact scaled-integer cosine inside
    * the `nProbe` nearest lists only.
    *
    * The 100 TB plan, stage by stage: the bounded probe set (|queries| x
    * nProbe rows) BROADCASTS into the corpus-sized lists (a shuffle join
    * on the nLists-valued `cid` key would funnel the whole corpus through
    * nLists partitions); both norms compute INLINE from the embeddings
    * the joined row already carries (order-independent integer math — no
    * corpus-sized n2 table is ever built, let alone broadcast); and the
    * per-query ranking is the bounded-heap [[Similarity.TopKAgg]], which
    * partially aggregates map-side so only k rows per (partition, query)
    * reach the exchange — a `row_number` window would funnel every
    * candidate row of a hot query through ONE partition and sort it.
    * Net: after the list join the plan is shuffle-free until the final
    * k-row-per-query exchange. Queries need not be part of the corpus.
    * The probe-selection window above it ranks only |queries| x nLists
    * rows — bounded by construction. */
  def probe(index: Index, queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("cid").asc)
    val probes = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .crossJoin(broadcast(centroidDf(spark, index.cents)))
      .withColumn("dot", dotScaled(col("qe"), col("cvec")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("qe"), col("cid"))
    val tk = udaf(new Similarity.TopKAgg(k),
      org.apache.spark.sql.Encoders.product[Similarity.Scored])
    index.lists.join(broadcast(probes), "cid")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("dots", dotScaled(col("qe"), col("ce")))
      .withColumn("nq2", dotScaled(col("qe"), col("qe")))
      .withColumn("nc2", dotScaled(col("ce"), col("ce")))
      .withColumn("cos_sim",
        col("dots").cast("double") /
          sqrt(col("nq2").cast("double") * col("nc2").cast("double")))
      .groupBy(col("query_id"))
      .agg(tk(col("neighbor_id"), col("cos_sim")).as("top"))
      .select(col("query_id"), posexplode(col("top.items")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.cid").as("neighbor_id"), col("col.cos").as("cos_sim"))
  }

  /** Approximate top-k: build + probe in one call (the one-shot path the
    * coverage queries use; long-lived pipelines hold the [[Index]]). */
  def topKIvf(emb: DataFrame, queries: DataFrame, k: Int,
      nLists: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame =
    probe(buildIndex(emb, nLists, iters), queries, k, nProbe)

  // ---- persisted, growable IVF index (the [[Retrieval.buildIndex]] /
  // [[FuzzyJoin.buildSigIndex]] contract applied to ANN) ----

  private def centsOf(df: DataFrame): Seq[(Int, Seq[Float])] =
    df.orderBy(col("cid")).collect().toSeq
      .map(r => (r.getAs[Int]("cid"),
        r.getAs[scala.collection.Seq[Float]]("cvec").toSeq))

  /** The saved index's [[graft.land.LinkedIndex]] lifecycle: `cents`
    * frozen, `lists` growing, a batch's lists rows assigned against the
    * pinned quantizer. */
  private val saved: graft.land.LinkedIndex = new graft.land.LinkedIndex(
      "no saved IVF index", Seq("cents"), Seq("lists" -> Seq("neighbor_id")))(
    (path, snap, batch) => Seq(listRows(batch,
      centsOf(saved.member(batch.sparkSession, path, snap, "cents")))))

  /** Persist a built IVF index for a long-running retrieval/dedup
    * session: the trained coarse quantizer lands as `cents/` (nLists
    * rows) and the inverted lists as `lists/`, published together as
    * one [[graft.land.LinkedIndex]] generation (the in-memory [[Index]]
    * has no such contract: it dies with its session). A rebuild at the
    * SAME path (the retrain-on-recall-drift loop) therefore flips probes
    * from one complete index to the next atomically — never new
    * centroids routing old lists. The quantizer is FROZEN at build
    * time — appends assign against it without retraining (recall drifts
    * with the data distribution; rebuild when that matters), which is
    * also what makes the grown index bit-identical to a fresh build
    * whose training saw only the original segment.
    *
    * `batchId` is the SEED WATERMARK: recording it at build vouches the
    * build corpus below it, so the FIRST identified append can skip the
    * dedupe scan. A streaming ingest whose engine ids start at 0 seeds
    * with -1. */
  def buildSavedIndex(emb: DataFrame, path: String, nLists: Int = 16,
      iters: Int = 2, batchId: Option[Long] = None): String = {
    saved.healPredecessor(path)
    val cents = train(emb, nLists, iters)
    saved.rebuild(path, Seq(centroidDf(emb.sparkSession, cents)),
      Seq(listRows(emb, cents)), batchId)
    path
  }

  /** Load a [[buildSavedIndex]] index as an in-memory [[Index]] handle:
    * resolve the root ONCE, then read both members at their pinned
    * versions — centroids collect (nLists x dim — bounded), lists stay
    * a lazy snapshot-isolated scan, so [[probe]] runs off the saved
    * layout with its plan unchanged regardless of concurrent appends
    * or rebuilds. */
  def loadSavedIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Index = {
    val snap = saved.snapshot(indexPath)
    Index(centsOf(saved.member(spark, indexPath, snap, "cents")),
      saved.member(spark, indexPath, snap, "lists"))
  }

  /** Index MAINTENANCE: append a batch of vectors to a
    * [[buildSavedIndex]] index so the session's corpus can GROW without
    * a rebuild — one assign job that scales with the batch, against the
    * frozen quantizer (the [[addToIndex]] semantics, made durable). The
    * append is an ACID commit: a crash mid-append publishes NOTHING and
    * the retry lands the whole batch. Replays are exactly-once by the
    * [[graft.land.LinkedIndex.appendOnce]] ladder — without it a
    * duplicate list row would make [[probe]] emit the same neighbor at
    * two ranks and silently evict the true k-th answer. Vec ids are
    * immutable-by-contract: re-submitting a vec_id with a DIFFERENT
    * embedding is undefined (the same rule every persisted index in the
    * engine carries). `beforePublish` is
    * [[graft.land.AtomicLanding.commit]]'s test seam on the lists
    * commit, `beforeRootPublish` the root swing's.
    *
    * A 100 TB streaming ingest should always carry its micro-batch
    * `batchId`: id-less appends pay an O(index) anti-join.
    *
    * CONCURRENT INGESTS: batch ids are only monotone within ONE
    * issuer's sequence, so several independent streaming queries
    * appending to one index must each pass a distinct `writer` — the
    * [[graft.land.AtomicLanding.lastBatchId(table:String,writer:String)*]]
    * channel. On a shared channel, a racing peer's higher id would
    * skip a slower writer's never-committed batch (lost data); each
    * channel's mark is monotone and judged against its own history
    * only, and a fresh channel pays the dedupe scan once to establish
    * its watermark. */
  def addToSavedIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, batch: DataFrame,
      batchId: Option[Long] = None,
      beforePublish: () => Unit = () => (),
      beforeRootPublish: () => Unit = () => (),
      writer: String = ""): Unit =
    saved.append(indexPath, batch, batchId, writer, dedupeListScans,
      beforePublish, beforeRootPublish)

  /** MAJOR maintenance — the missing half of the pair whose minor half
    * is [[maintainSavedIndex]]'s physical tail fold: re-seed (iters=0)
    * or re-train the coarse quantizer from the CURRENT corpus and
    * reassign every list row against it. Growth under a frozen
    * quantizer is what keeps appends O(batch), but when the corpus has
    * grown far past the training segment the routing drifts (hot
    * lists, recall decay); this is the corpus-sized "recluster when it
    * matters" step the [[buildSavedIndex]] scaladoc promises. The
    * corpus is already IN the lists (`ce`), so the caller supplies
    * nothing: one training pass + one reassign job, a cents rewrite, a
    * lists rewrite CAS'd on the lists version (a concurrent append
    * landing mid-rebalance fails the rewrite and the loop retries with
    * the appended rows included — nothing is ever dropped), then one
    * root CAS. Readers flip from the old quantizer+lists to the new
    * pair atomically; a crash before the root swing leaves the old
    * generation live.
    *
    * With `iters = 0` the new seeds are the first `nLists` vectors of
    * the current corpus by vec_id — deterministic, so a rebalanced
    * index is BIT-IDENTICAL to a one-shot [[buildSavedIndex]] over the
    * same corpus; `q_cosine_ivf_rebalanced` gates exactly that (an
    * index grown from a SUFFIX segment, whose seeds differ from the
    * canonical build's, must equal the canonical bits after the
    * rebalance re-seeds it). */
  def rebalanceSavedIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, nLists: Int = 16, iters: Int = 2,
      driftTolerance: Double = 0.0,
      beforeListsCommit: () => Unit = () => (),
      beforeRootPublish: () => Unit = () => ()): Unit = {
    var done = false
    while (!done) {
      val snap = saved.settled(indexPath)
      val corpus = saved.member(spark, indexPath, snap, "lists")
        .select(col("neighbor_id").as("vec_id"), col("ce").as("embedding"))
      val cents = train(corpus, nLists, iters)
      // DRIFT PROBE (IvfPq.rebalanceSavedIndex's contract): the
      // retrained quantizer is in hand either way — if it reproduces
      // the pinned one within driftTolerance, every list row is
      // already assigned under it and the corpus-sized reassign +
      // rewrite is provably a no-op; skip it. tol = 0 demands the
      // bit-stable equality deterministic iters = 0 training gives.
      val centsOld = centsOf(saved.member(spark, indexPath, snap, "cents"))
      if (IvfPq.withinDrift(centsOld.map(_._2.map(_.toDouble)),
          cents.map(_._2.map(_.toDouble)), driftTolerance)) {
        rebalanceSkips.incrementAndGet()
        done = true
      } else try {
        // the lists seam fires BEFORE the rewrite reserves its version
        // slot (a concurrent append staged inside the reservation
        // window would deadlock on the slot, not race the CAS)
        saved.rebuild(indexPath, Seq(centroidDf(spark, cents)),
          Seq(listRows(corpus, cents)), base = Some(snap),
          beforeMember = m => if (m == "lists") beforeListsCommit(),
          beforePublish = beforeRootPublish)
        done = true
      } catch {
        // a concurrent append advanced the lists (or the root) past
        // our snapshot: retrain over the fresh corpus — the staged
        // rewrite is unreachable garbage a vacuum reclaims
        case _: java.util.ConcurrentModificationException => ()
      }
    }
  }

  /** Rebuilds [[rebalanceSavedIndex]] SKIPPED because the drift probe
    * proved retraining reproduces the pinned quantizer — the proof
    * seam that a no-drift rebalance never rewrites the lists. */
  private[graft] val rebalanceSkips =
    new java.util.concurrent.atomic.AtomicLong

  /** [[probe]] against a [[buildSavedIndex]] index: same output
    * contract, same bits, no training or assignment — the probe plan
    * runs off the saved lists scan directly. */
  def probeSavedIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, k: Int,
      nProbe: Int): DataFrame =
    probe(loadSavedIndex(spark, indexPath), queries, k, nProbe)

  /** Long-SESSION maintenance ([[graft.land.LinkedIndex.maintain]]:
    * the quantizer is frozen and the lists carry no derived state, so
    * maintenance is purely physical — fold the small-dir micro-batch
    * tail, re-pin the root, vacuum superseded generations). One
    * maintainer at a time; concurrent probes/appends are safe. Returns
    * reclaimed paths. */
  def maintainSavedIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, smallBytes: Long = 64L * 1024 * 1024,
      reservationGraceMs: Long = 600000L,
      retainRootGenerations: Int = 0): Seq[String] =
    saved.maintain(spark, indexPath, smallBytes, reservationGraceMs,
      retainRootGenerations)
}
