package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Similarity.{dotScaled, norms}

/** IVF-PQ — the composed production ANN index (the FAISS `IVFx,PQy`
  * shape): a coarse quantizer routes each vector to one of `nLists`
  * inverted lists ([[Ivf]]), and the vector's RESIDUAL against its list
  * centroid is product-quantized to `m` codes ([[Pq]]'s subspace
  * machinery over residuals, codebooks shared across lists — the
  * standard simplification). A query then (1) picks its `nProbe`
  * nearest lists by exact integer dot, (2) ADC-scores every candidate
  * in those lists as `dot(q, c_list) + Σ_sub dot(q_sub, r̂_sub)` — m
  * lookup-table adds per candidate, never a float loop over D — and
  * (3) exact-re-ranks only the top-`shortlist`. At 100 TB this is the
  * memory-bound layout: m bytes per vector in the hot path (32× under
  * 4·D float bytes at D=64, m=8) and |probed|/|lists| of the corpus
  * scanned per query.
  *
  * Determinism: residuals are computed in DOUBLE — the difference of
  * two floats is exactly representable in a double (≤ 49 significand
  * bits), so `cast(x as double) - cast(c as double)` is bit-identical
  * in any engine, where float subtraction vs double-promoted
  * subtraction would drift in the last bit. Every distance/score is the
  * scaled-integer dot; ties break on (d2, code) / (score, neighbor_id)
  * total orders. With both quantizers pinned (iters = 0: coarse = first
  * nLists vectors, residual codebooks = first k residual slices) the
  * whole index build + probe replays in SQL — the `q_cosine_ivfpq`
  * oracle does exactly that. Lloyd-trained quantizers move recall,
  * never correctness (the exact re-rank is unaffected).
  */
object IvfPq {

  /** A built index: coarse centroids, residual codebooks (sub, code,
    * rvec — DOUBLE), the per-vector codes, and the corpus norms for the
    * exact re-rank. `codes`/`n2` are checkpointed: built once, probed
    * many times.
    *
    * CODES LAYOUT (r21, guide §2.3 — shuffle fewer bytes): ONE row per
    * vector with the m sub-codes as an array column, not m rows per
    * vector. The ADC candidate stream (|probed lists| × |queries| rows
    * after the probe join — the engine's biggest exchange in the
    * self-join shape) therefore carries 1/m of the former row count,
    * and the (query_id, neighbor_id) re-fold aggregation disappears
    * outright: with the per-query LUT carried on the probe row, each
    * candidate row computes its COMPLETE ADC score in place. */
  final case class Index(
      cents: Seq[(Int, Seq[Float])],
      cb: Seq[(Int, Int, Seq[Double])],
      m: Int, subDim: Int,
      codes: DataFrame, // (neighbor_id, cid, codes: array<int> of m)
      n2: DataFrame)    // (vec_id, n2)

  private def coarseDf(s: SparkSession, cents: Seq[(Int, Seq[Float])]): DataFrame = {
    import s.implicits._
    cents.toDF("cid", "cvec")
  }

  private def cbDf(s: SparkSession, cb: Seq[(Int, Int, Seq[Double])]): DataFrame = {
    import s.implicits._
    cb.toDF("sub", "code", "rvec")
  }

  /** (vec_id, cid, res): each vector's double-exact residual against its
    * assigned coarse centroid. MAP-ONLY: the native
    * [[graft.functions.NearestCentroidResidual]] computes the argmax
    * and the residual subtraction in one generated pass per row — the
    * former assign → re-join(emb) → re-join(cents) chain shuffled the
    * corpus twice to recover columns the assignment already held
    * (guide §2.4), and its replacement `zip_with` would have run
    * interpreted (guide §4). */
  def residuals(emb: DataFrame, cents: Seq[(Int, Seq[Float])]): DataFrame = {
    val sorted = cents.sortBy(_._1)
    emb.select(col("vec_id"), org.apache.spark.sql.GraftShims.column(
        graft.functions.NearestCentroidResidual(
          org.apache.spark.sql.GraftShims.expression(col("embedding")),
          sorted.map(_._1), sorted.map(_._2.map(_.toDouble)))).as("_cr"))
      .select(col("vec_id"), col("_cr.cid").as("cid"),
        col("_cr.res").as("res"))
  }

  /** (vec_id, cid, codes): ALL m nearest residual-codebook entries as
    * one array column in subspace order — the exact integer
    * sub-distance argmin per subspace, ties to the lower code, one row
    * per vector (guide §2.3: the array layout carries 1/m of the
    * per-sub-row layout's row count through every downstream join and
    * exchange).
    *
    * MAP-ONLY (guide §2.4, §4): all m argmins run as the native
    * [[graft.functions.PqAssignCodes]] expression — one generated loop
    * per row over plan-time codebook state, zero exchange — where the
    * old shape paid a Generate to N·m rows, a broadcast join to N·m·k,
    * and a `groupBy(vec_id, cid, sub)` exchange of N·m rows. Two exact
    * simplifications inside the kernel keep the winner bit-identical:
    * the candidate order drops the `dot(sv, sv)` term (constant across
    * one subspace's candidates, so `(d2, code)` and `(d2 − dot(sv,sv),
    * code)` order identically over exact longs), and each entry's
    * self-dot is precomputed at construction with the identical
    * per-element `floor(x·y·1e15)` chain `dotScaled` generates (IEEE
    * doubles both sides; long addition associative) — ONE dot per
    * candidate instead of three. */
  def assignCodes(res: DataFrame, cb: Seq[(Int, Int, Seq[Double])],
      m: Int, subDim: Int): DataFrame =
    res.select(col("vec_id"), col("cid"),
      Pq.pqColumn(col("res"), subDim, lutEntries(cb, m)).as("codes"))

  /** Build: coarse quantizer ([[Ivf.train]], `itersCoarse` Lloyd
    * rounds), residuals, residual codebooks seeded from the first `k`
    * vectors' residual slices + `itersPq` Lloyd rounds, then one
    * assignment pass materializes the codes. */
  def buildIndex(emb: DataFrame, nLists: Int = 16, m: Int = 8, k: Int = 16,
      itersCoarse: Int = 0, itersPq: Int = 0): Index = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val cents = Ivf.train(emb, nLists, itersCoarse)
    val res = residuals(emb, cents).localCheckpoint(true)
    val seeds = res.orderBy(col("vec_id")).limit(k).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("res").toSeq)
    var cb: Seq[(Int, Int, Seq[Double])] = for {
      sI <- 0 until m
      (v, j) <- seeds.zipWithIndex.toSeq
    } yield (sI, j, v.slice(sI * subDim, (sI + 1) * subDim))
    (1 to itersPq).foreach { _ =>
      // assignment keeps `res` ON the row (map-only), so the mean pass
      // never re-joins the slices it already held
      val means = res
        .withColumn("_codes", Pq.pqColumn(col("res"), subDim, lutEntries(cb, m)))
        .withColumn("_x", explode(array((0 until m).map(sI =>
          struct(lit(sI).as("sub"),
            element_at(col("_codes"), sI + 1).as("code"),
            slice(col("res"), sI * subDim + 1, subDim).as("svec"))): _*)))
        .select(col("_x.sub").as("sub"), col("_x.code").as("code"),
          posexplode(col("_x.svec")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(avg(col("col")).as("mean"))
        .collect()
        .groupBy(r => (r.getAs[Int]("sub"), r.getAs[Int]("code")))
        .map { case (key, rows) =>
          key -> rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("mean")).toSeq
        }
      // a code that lost every member keeps its previous position
      cb = cb.map { case (sI, c, old) => (sI, c, means.getOrElse((sI, c), old)) }
    }
    val codes = assignCodes(res, cb, m, subDim)
      .withColumnRenamed("vec_id", "neighbor_id")
      .localCheckpoint(true)
    Index(cents, cb, m, subDim, codes, norms(emb).localCheckpoint(true))
  }

  /** The saved index's [[graft.land.LinkedIndex]] lifecycle: `cents` and
    * `cb` frozen; `codes` (the entry member probes scan) and `n2` (the
    * re-rank's norm lookup) growing. A batch codes against the pinned
    * quantizers, after [[pinnedMembers]] refused any layout those codes
    * could not extend. */
  private val saved = new graft.land.LinkedIndex("no saved IVF-PQ index",
    Seq("cents", "cb"), Seq("codes" -> Seq("neighbor_id"), "n2" -> Seq("vec_id")))(
    (path, snap, batch) => {
      val (cents, cb, _) = pinnedMembers(batch.sparkSession, path, snap)
      Seq(assignCodes(residuals(batch, cents), cb, cb.map(_._1).max + 1,
        cb.head._3.size).withColumnRenamed("vec_id", "neighbor_id"),
        norms(batch))
    })

  /** A codebook's entries by position — `(s)(j)` is code j of
    * subspace s — enforcing the DENSE contract every assignment and
    * lookup-table path relies on: subspaces 0..m-1, codes 0..k-1 in
    * each, one uniform k (exactly [[buildIndex]]'s and [[Pq.train]]'s
    * construction). Anything else fails here rather than mis-scoring
    * later. */
  private[ext] def lutEntries(cb: Seq[(Int, Int, Seq[Double])],
      m: Int): Seq[Seq[Seq[Double]]] = {
    val bySub = cb.groupBy(_._1)
    require(m > 0 && bySub.keySet == (0 until m).toSet,
      s"codebook must cover subspaces 0..${m - 1}, got " +
        bySub.keySet.toSeq.sorted.mkString("[", ",", "]"))
    val ordered = (0 until m).map(sI => bySub(sI).sortBy(_._2))
    val k = ordered.head.size
    require(ordered.forall(_.map(_._2) == (0 until k)),
      s"codebook must hold codes 0..${k - 1} in every subspace (uniform k)")
    ordered.map(_.map(_._3))
  }

  /** The per-query ADC lookup table carried as ONE array column,
    * computed in place from the query embedding by the native
    * [[graft.functions.PqLut]] kernel: element `sub·k + code + 1` is the
    * exact scaled dot of the query's sub-slice with that code's
    * codebook entry, so scoring a candidate is an `element_at` lookup on
    * the row the probe join already produced — no (query_id, sub, code)
    * table join (guide §2.4). */
  private[ext] def lutArray(qe: org.apache.spark.sql.Column, subDim: Int,
      entries: Seq[Seq[Seq[Double]]]): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftShims.column(graft.functions.PqLut(
      org.apache.spark.sql.GraftShims.expression(qe), subDim, entries))

  /** The complete per-candidate ADC sum `Σ_s lut[s·k + codes[s]]` over
    * the row's `codes` array and the probe row's carried `_lut` — m
    * element_at lookups, whole-stage codegen, exact long addition (any
    * grouping gives the identical value). */
  private[ext] def adcSum(k: Int, m: Int): org.apache.spark.sql.Column =
    (0 until m).map(sI => element_at(col("_lut"),
      lit(sI * k + 1) + element_at(col("codes"), sI + 1))).reduce(_ + _)

  /** Probe: nProbe nearest lists by exact integer dot, ADC prune to
    * `shortlist`, exact scaled-integer cosine re-rank to top `k`
    * ([[Similarity.rerankExact]] — joins `emb` for the shortlisted
    * candidates only; queries must be in the indexed corpus).
    * Returns (query_id, rnk, neighbor_id, cos_sim). */
  def probe(emb: DataFrame, index: Index, queries: DataFrame, k: Int,
      nProbe: Int, shortlist: Int): DataFrame = {
    val s = queries.sparkSession
    val q0 = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cdot").desc, col("cid").asc)
    val es = lutEntries(index.cb, index.m)
    val probes = q0
      .crossJoin(broadcast(coarseDf(s, index.cents)))
      .withColumn("cdot", dotScaled(col("qe"), col("cvec")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("cid"), col("cdot"),
        lutArray(col("qe"), index.subDim, es).as("_lut"))
    // probes is bounded by the query batch (|queries| x nProbe rows):
    // broadcast it into the corpus-sized codes table — a shuffle join
    // on the 16-value cid key would funnel the corpus through nLists
    // partitions at scale
    val tkl = udaf(new Similarity.TopKLongAgg(shortlist),
      org.apache.spark.sql.Encoders.product[Similarity.ScoredL])
    // one candidate ROW per (query, neighbor) — codes ride as an
    // array, the LUT rides on the probe row, so the row computes its
    // COMPLETE score in place, with no (query_id, neighbor_id) re-fold
    val cand = index.codes.join(broadcast(probes), "cid")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("cdot") + adcSum(es.head.size, index.m)).as("score"))
      // bounded-heap shortlist selection (score desc, neighbor_id asc):
      // partial-aggregates map-side, so only `shortlist` rows per
      // (partition, query) reach the exchange — a row_number window here
      // would funnel every ADC-scored candidate of a hot query through
      // ONE partition and fully sort it
      .groupBy(col("query_id"))
      .agg(tkl(col("neighbor_id"), col("score")).as("top"))
      .select(col("query_id"), explode(col("top.items")).as("x"))
      .select(col("query_id"), col("x.cid").as("neighbor_id"))
    Similarity.rerankExact(cand, emb, queries, index.n2, k)
  }

  /** [[probe]] for UNBOUNDED query sets — the ANN-self-join /
    * dedup-by-ANN shape where queries ≈ corpus and nothing query-sized
    * may broadcast. Identical values to [[probe]] (every score is the
    * same deterministic integer math; only physical strategy changes):
    *
    *   - codes ⋈ probes becomes a SALTED shuffle join: `cid` has only
    *     `nLists` values, so a plain shuffle join would funnel the whole
    *     corpus through nLists partitions. The codes side keys on
    *     (cid, pmod(neighbor_id, salts)); the probe side explodes each
    *     row into `salts` copies — nLists·salts effective keys, corpus
    *     rows never replicate (only the |Q|·nProbe probe rows do).
    *   - the per-query ADC LUT rides the probe rows as one m·k-long
    *     array column ([[lutArray]]) and each candidate's score is m
    *     `element_at` lookups — no LUT join sorts the candidate stream.
    *   - the exact re-rank shuffle-joins the query embeddings
    *     ([[Similarity.rerankExact]] with broadcastQueries = false).
    *
    * The only broadcast left is the centroid table (nLists rows — O(index
    * config), independent of corpus and query-set size); the codebook
    * rides inside the LUT kernel as plan-time state. */
  def probeShuffled(emb: DataFrame, index: Index, queries: DataFrame,
      k: Int, nProbe: Int, shortlist: Int, salts: Int = 8): DataFrame = {
    val s = queries.sparkSession
    val q0 = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cdot").desc, col("cid").asc)
    val es = lutEntries(index.cb, index.m)
    val probes = q0
      .crossJoin(broadcast(coarseDf(s, index.cents)))
      .withColumn("cdot", dotScaled(col("qe"), col("cvec")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("cid"), col("cdot"),
        lutArray(col("qe"), index.subDim, es).as("_lut"))
      .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    val tkl = udaf(new Similarity.TopKLongAgg(shortlist),
      org.apache.spark.sql.Encoders.product[Similarity.ScoredL])
    // the carried-LUT lookup over the codes ARRAY: one candidate row
    // per (query, neighbor) computes its complete score in place, with
    // no (query_id, neighbor_id) re-fold exchange (guide §2.3/§2.4)
    val cand = index.codes
      .withColumn("salt", pmod(col("neighbor_id"), lit(salts)).cast("int"))
      .join(probes, Seq("cid", "salt"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("cdot") + adcSum(es.head.size, index.m)).as("score"))
      .groupBy(col("query_id"))
      .agg(tkl(col("neighbor_id"), col("score")).as("top"))
      .select(col("query_id"), explode(col("top.items")).as("x"))
      .select(col("query_id"), col("x.cid").as("neighbor_id"))
    Similarity.rerankExact(cand, emb, queries, index.n2, k,
      broadcastQueries = false)
  }

  /** Persist a built index: quantizers + codes + norms under one root —
    * the production handoff (build once on the corpus pass, probe from
    * any later job). Geometry (m, subDim) is recovered from the
    * codebook table itself, so there is no side metadata file to drift
    * out of sync.
    *
    * The four parts publish as one [[graft.land.LinkedIndex]] generation
    * (commit order cents, cb, codes, n2, then the root). A re-save (the
    * retrain-on-drift path) therefore flips readers from one complete
    * index to the next in one step — a [[load]] racing it resolves
    * either four OLD parts or four NEW parts, never a
    * cents-from-one-generation / codes-from-another mix, which a
    * per-part `mode(overwrite)` layout could serve. A crash anywhere
    * before the root swing publishes NOTHING. `beforePublish` is the
    * root swing's test seam, `beforeMember` fires before each part
    * commit, and `batchId` seeds the watermark of both growable members
    * (codes and n2 carry independent watermarks).
    *
    * Unlike the other builds, save() does not heal a crashed
    * predecessor forward first ([[graft.land.LinkedIndex
    * .healPredecessor]]): a reader inside a retried re-save's publish
    * window resolves the last PUBLISHED quadruple, and the retry
    * replaces the crashed one. */
  def save(index: Index, path: String,
      beforePublish: () => Unit = () => (),
      beforeMember: String => Unit = _ => (),
      batchId: Option[Long] = None): Unit = {
    val s = index.codes.sparkSession
    saved.rebuild(path, Seq(coarseDf(s, index.cents), cbDf(s, index.cb)),
      Seq(index.codes, index.n2), batchId, beforeMember = beforeMember,
      beforePublish = beforePublish)
  }

  /** Load an index saved by [[save]]: resolve the root row once, then
    * read every part AT ITS PINNED VERSION — the consistent quadruple
    * that row published, regardless of any re-save landing
    * concurrently. The codes/norms load as lazy snapshot-isolated
    * scans, so the ADC prune runs off the saved compressed layout
    * alone; [[probe]]'s final EXACT re-rank still joins the corpus
    * embeddings for the shortlisted candidates (that is the re-rank's
    * definition — skip it only if ADC order suffices), and queries
    * must be part of the indexed corpus (the norm join drops unknown
    * query ids). */
  def load(s: SparkSession, path: String): Index = {
    val snap = saved.snapshot(path)
    val (cents, cb, codes) = pinnedMembers(s, path, snap)
    Index(cents, cb, cb.map(_._1).max + 1, cb.head._3.size, codes,
      saved.member(s, path, snap, "n2"))
  }

  /** A saved index's pinned quantizers and codes member, refusing (with
    * the path named) a layout the single assignment/LUT path cannot
    * score: a codebook that is not dense ([[lutEntries]]), or a codes
    * member without the `codes: array<int>` column (an older per-sub
    * layout — probing it fails late, appending to it mixes schemas). */
  private def pinnedMembers(s: SparkSession, path: String,
      snap: graft.land.AtomicLanding.LinkedSnapshot)
      : (Seq[(Int, Seq[Float])], Seq[(Int, Int, Seq[Double])], DataFrame) = {
    val cents = saved.member(s, path, snap, "cents").orderBy("cid").collect()
      .map(r => (r.getAs[Int]("cid"),
        r.getAs[scala.collection.Seq[Float]]("cvec").toSeq)).toSeq
    val cb = saved.member(s, path, snap, "cb").orderBy("sub", "code").collect()
      .map(r => (r.getAs[Int]("sub"), r.getAs[Int]("code"),
        r.getAs[scala.collection.Seq[Double]]("rvec").toSeq)).toSeq
    try lutEntries(cb, if (cb.isEmpty) 0 else cb.map(_._1).max + 1)
    catch {
      case e: IllegalArgumentException => throw new IllegalStateException(
        s"$path: saved codebook is not dense: ${e.getMessage}", e)
    }
    val codes = saved.member(s, path, snap, "codes")
    codes.schema.find(_.name == "codes").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType, _)) => ()
      case other => throw new IllegalStateException(
        s"$path: saved codes member lacks the codes: array<int> column " +
          s"(found ${other.fold("no codes column")(_.simpleString)})")
    }
    (cents, cb, codes)
  }

  /** Index MAINTENANCE: append a batch of vectors to a [[save]]d index
    * WITHOUT retraining — [[Ivf.addToSavedIndex]]'s semantics on the
    * compressed tier. The FROZEN coarse quantizer and codebooks load
    * once at their root-pinned versions (bounded: nLists×dim + m×k×subDim
    * rows); the batch pays one residual + code-assignment job that
    * scales with the batch, and the codes and norms tables append
    * before one root CAS publishes the new quadruple with cents/cb
    * pinned unchanged — a probe never scores codes from one generation
    * under another generation's codebooks.
    *
    * TWO-MEMBER EXACTNESS: codes and n2 are separate tables, so a crash
    * can land between their commits. Each member therefore runs its own
    * exactly-once ladder ([[graft.land.LinkedIndex.appendOnce]]: its own
    * batch-id mark, or an anti-join against its own live rows), so a
    * retry completes exactly the missing member and never duplicates
    * the committed one. n2 commits first: a half-landed append can only
    * publish norms no candidate reaches yet.
    *
    * With deterministic quantizers (iters = 0) the grown index is
    * bit-identical to a one-shot [[buildIndex]]+[[save]] over the
    * union corpus — `q_cosine_ivfpq_grown` reuses the saved-probe
    * replay oracle unchanged on that equality. Vec ids are
    * immutable-by-contract, as everywhere in the engine. */
  def addToSavedIndex(s: SparkSession, path: String, batch: DataFrame,
      batchId: Option[Long] = None,
      beforePublish: () => Unit = () => (),
      beforeRootPublish: () => Unit = () => (),
      writer: String = ""): Unit =
    saved.append(path, batch, batchId, writer, dedupeCodeScans,
      beforePublish, beforeRootPublish)

  /** O(index) dedupe scans taken by id-less [[addToSavedIndex]]
    * appends (counted per member side) — the proof seam that an
    * identified batch never pays the live-table anti-joins. */
  private[ext] val dedupeCodeScans =
    new java.util.concurrent.atomic.AtomicLong

  /** Rebuild attempts [[rebalanceSavedIndex]] lost to a concurrent
    * commit (member-CAS or root-CAS) — the proof seam that a racing
    * append makes the rebalance RETRY over the fresh state rather
    * than silently overwrite it. */
  private[ext] val rebalanceRetries =
    new java.util.concurrent.atomic.AtomicLong

  /** Rebuilds [[rebalanceSavedIndex]] SKIPPED because the drift probe
    * proved retraining would reproduce the live quantizers — the proof
    * seam that a no-drift rebalance never pays the corpus-sized
    * recode. */
  private[graft] val rebalanceSkips =
    new java.util.concurrent.atomic.AtomicLong

  /** Position-matched quantizer-table comparison for the drift probe:
    * every new centroid within `tol` × its old counterpart's norm
    * (tol = 0 demands bit-stable equality — which deterministic
    * iters = 0 training delivers, since both tables are arithmetic on
    * the same corpus prefix read from the same parquet). */
  private[ext] def withinDrift(old: Seq[Seq[Double]], nu: Seq[Seq[Double]],
      tol: Double): Boolean =
    old.size == nu.size && old.zip(nu).forall { case (o, n) =>
      o.size == n.size && {
        val d = math.sqrt(o.zip(n).map { case (x, y) =>
          (x - y) * (x - y) }.sum)
        d == 0.0 || d <= tol * math.max(
          math.sqrt(o.map(x => x * x).sum), 1e-12)
      }
    }

  /** MAJOR maintenance on the compressed tier — retrain-on-drift with
    * append-loss protection ([[Ivf.rebalanceSavedIndex]]'s contract,
    * reshaped by the lossy layout: PQ codes cannot reconstruct their
    * vectors, so unlike the plain-IVF rebalance — which retrains from
    * the full vectors its own lists store — the caller supplies the
    * retrain `corpus`). One call retrains both quantizers over
    * `corpus`, recomputes codes + norms, commits all four members,
    * and swings the root once; with iters = 0 the result is
    * bit-identical to a one-shot [[buildIndex]]+[[save]] over the
    * same corpus, which is what `q_cosine_ivfpq_rebalanced` gates.
    *
    * Append-loss protection — the hole a raw re-[[save]] leaves open:
    * save() reads its root-CAS expectation at PUBLISH time, so an
    * append that lands during the rebuild is silently overwritten by
    * a quadruple built from a corpus that never held it. Here three
    * fences close it:
    * (a) CENSUS — every id durably committed to the LIVE norms table
    *     must appear in `corpus` (one id-only pass over two pruned
    *     columns before any rebuild work — a full-outer join in the
    *     deterministic probe mode, where the same pass also counts the
    *     not-yet-indexed extras that disable the skip); a stale corpus
    *     fails loudly instead of dropping vectors — this also covers
    *     a CRASHED append's committed-but-unpublished ids, because
    *     the census runs over the healed ([[graft.land.LinkedIndex
    *     .settled]]) snapshot;
    * (b) MEMBER CAS — the codes/n2 rewrites carry `expectedVersion` =
    *     the censused versions, so an append landing after the census
    *     fails the rewrite commit, never a reader;
    * (c) ROOT CAS — the publish pins the snapshot generation.
    * Losing any fence retries the loop: the census re-runs over the
    * fresh state (the racing append's ids are in the live norms now —
    * a corpus that covers them rebuilds them in; one that does not
    * fails the census). A crash before the root swing leaves a
    * complete rewrite the next writer heals forward. */
  def rebalanceSavedIndex(s: SparkSession, path: String, corpus: DataFrame,
      nLists: Int = 16, m: Int = 8, k: Int = 16,
      itersCoarse: Int = 0, itersPq: Int = 0,
      driftTolerance: Double = 0.0,
      beforeMembersCommit: () => Unit = () => (),
      beforeRootPublish: () => Unit = () => ()): Unit = {
    var done = false
    while (!done) {
      val snap = saved.settled(path)
      // CENSUS — one id-only pass serves both fences: `missing`
      // (indexed ids absent from the corpus — always fatal) and, in
      // the deterministic probe mode, `extras` (corpus ids not yet
      // indexed — a grow-under-rebalance that disables the skip).
      // A full-outer join over the two pruned id columns replaces
      // the former missing anti-join + extras anti-join pair, so the
      // probe pays ONE corpus-shaped shuffle of ids, not two.
      val probeMode = itersCoarse == 0 && itersPq == 0
      val n2ids = saved.member(s, path, snap, "n2")
        .select(col("vec_id")).withColumn("_idx", lit(1))
      val (missing, extras) =
        if (probeMode) {
          val r = n2ids
            .join(corpus.select(col("vec_id")).withColumn("_cor", lit(1)),
              Seq("vec_id"), "full_outer")
            .agg(
              coalesce(sum(when(col("_cor").isNull, 1L)), lit(0L)),
              coalesce(sum(when(col("_idx").isNull, 1L)), lit(0L)))
            .head()
          (r.getLong(0), r.getLong(1))
        } else
          (n2ids.drop("_idx")
            .join(corpus.select(col("vec_id")), Seq("vec_id"), "left_anti")
            .count(), -1L)
      require(missing == 0L,
        s"$path: rebalance corpus is stale — $missing indexed ids are " +
          "absent from it; rebuilding would silently drop those vectors")
      // DRIFT PROBE — skip the corpus-sized recode when retraining
      // would reproduce the LIVE quantizer pair. Appends were encoded
      // under exactly these tables, so unchanged tables make the
      // rebuild provably a no-op: the skip is an exactness argument,
      // not a recall heuristic (driftTolerance > 0 additionally skips
      // sub-threshold centroid movement — that IS a recall trade, the
      // caller's). Probed only in the deterministic iters = 0 mode
      // (training there is the corpus's canonical seed slices — a few
      // driver-side rows, O(1) next to the recode); Lloyd-trained
      // rebalances pay corpus passes to train and always rebuild.
      // The skip also demands corpus ≡ indexed ids both ways: a
      // corpus carrying EXTRA ids is a grow-under-rebalance and must
      // rebuild them in.
      val skipRebuild = probeMode && extras == 0L && {
        val centsOld = saved.member(s, path, snap, "cents")
          .orderBy("cid").collect()
          .map(_.getAs[scala.collection.Seq[Float]]("cvec")
            .map(_.toDouble).toSeq).toSeq
        // both seed fetches below are id-prefix-bounded (Ivf.seedPrefix
        // inside train; explicit here for the PQ seed rows), so the
        // probe's wide-column reads are row-group-pruned to the seed
        // prefix — the probe's only corpus-shaped work is the single
        // id census above
        val centsNew = Ivf.train(corpus, nLists, 0)
        withinDrift(centsOld,
          centsNew.map(_._2.map(_.toDouble)), driftTolerance) && {
          val dim = corpus.select(size(col("embedding")))
            .head().getInt(0)
          dim % m == 0 && {
            val subDim = dim / m
            val seedRes = residuals(
                Ivf.seedPrefix(corpus, k).orderBy(col("vec_id")).limit(k),
                centsNew)
              .orderBy(col("vec_id")).collect()
              .map(_.getAs[scala.collection.Seq[Double]]("res").toSeq)
            val cbNew = (for {
              sI <- 0 until m
              (v, j) <- seedRes.zipWithIndex.toSeq
            } yield (sI, j, v.slice(sI * subDim, (sI + 1) * subDim)))
              .sortBy(t => (t._1, t._2)).map(_._3)
            val cbOld = saved.member(s, path, snap, "cb")
              .orderBy("sub", "code").collect()
              .map(_.getAs[scala.collection.Seq[Double]]("rvec").toSeq)
              .toSeq
            withinDrift(cbOld, cbNew, driftTolerance)
          }
        }
      }
      if (skipRebuild) {
        rebalanceSkips.incrementAndGet()
        done = true
      } else {
        val idx = buildIndex(corpus, nLists, m, k, itersCoarse, itersPq)
        // test seam: fires after the census + rebuild, before any
        // member commit — the widest window a concurrent append can
        // land in
        beforeMembersCommit()
        try {
          saved.rebuild(path, Seq(coarseDf(s, idx.cents), cbDf(s, idx.cb)),
            Seq(idx.codes, idx.n2), base = Some(snap),
            beforePublish = beforeRootPublish)
          done = true
        } catch {
          case _: java.util.ConcurrentModificationException =>
            rebalanceRetries.incrementAndGet(); ()
        }
      }
    }
  }

  /** Long-SESSION maintenance ([[Ivf.maintainSavedIndex]]'s shape on
    * the compressed tier, [[graft.land.LinkedIndex.maintain]]): the
    * quantizers are frozen and the codes/n2 tables carry no derived
    * state, so maintenance is purely physical — fold each member's
    * micro-batch tail, re-pin the root with cents/cb unchanged, vacuum
    * superseded generations. One maintainer at a time; concurrent
    * probes/appends are safe. Returns reclaimed paths. */
  def maintainSavedIndex(s: SparkSession, path: String,
      smallBytes: Long = 64L * 1024 * 1024,
      reservationGraceMs: Long = 600000L,
      retainRootGenerations: Int = 0): Seq[String] =
    saved.maintain(s, path, smallBytes, reservationGraceMs,
      retainRootGenerations)

  /** Build + probe in one call (the coverage-query path). */
  def topK(emb: DataFrame, queries: DataFrame, k: Int, nLists: Int = 16,
      m: Int = 8, kCodes: Int = 16, nProbe: Int = 4, shortlist: Int = 50,
      itersCoarse: Int = 0, itersPq: Int = 0): DataFrame =
    probe(emb, buildIndex(emb, nLists, m, kCodes, itersCoarse, itersPq),
      queries, k, nProbe, shortlist)
}
