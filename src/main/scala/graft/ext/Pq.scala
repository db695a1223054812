package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization — the codebook compression tier of the ANN
  * stack (scalar int8 in [[Quantize]] is its 1-dim-subspace degenerate
  * form): the D-dim vector splits into `m` contiguous subspaces of D/m
  * dims, each subspace gets its own k-centroid codebook (Lloyd, seeded
  * deterministically), and a vector encodes as `m` small ints — m bytes
  * at k ≤ 256 against 4·D float bytes (32× here at D=64, m=8).
  *
  * Distances are exact integer arithmetic throughout: sub-distance
  * ‖x−c‖² expands to dotScaled(x,x) − 2·dotScaled(x,c) + dotScaled(c,c),
  * three scaled-integer dots, so assignment is deterministic on any
  * cluster layout (centroid TRAINING uses float means and may drift in
  * the last bits — that moves recall, never correctness, same trade as
  * [[Ivf]]).
  *
  * Query scoring is ADC (asymmetric distance computation): the query
  * keeps its exact subvectors and scores a candidate as the sum of its
  * per-subspace dots with the candidate's CODEBOOK centroids — at scale
  * the per-query (m × k) dot table is precomputed once and candidate
  * scoring is m table lookups per vector, never a float loop over D.
  */
object Pq {

  /** Codebooks (sub, cid, cvec). Dense by contract: subspaces 0..m-1,
    * codes 0..k-1 in each, one uniform k — [[train]] builds exactly
    * that, and anything else is rejected here, at construction, because
    * the ADC lookup table ([[IvfPq.lutEntries]]) indexes codes by
    * position. */
  final case class Codebooks(m: Int, subDim: Int, cents: Seq[(Int, Int, Seq[Float])]) {
    private[ext] val entries: Seq[Seq[Seq[Double]]] =
      IvfPq.lutEntries(cents.map { case (s, c, v) => (s, c, v.map(_.toDouble)) }, m)
  }

  /** (vec_id, sub, svec): the m contiguous sub-slices of each vector. */
  def subvectors(emb: DataFrame, m: Int, subDim: Int): DataFrame =
    emb.select(col("vec_id"), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"),
          slice(col("embedding"), s * subDim + 1, subDim).as("svec"))): _*)).as("x"))
      .select(col("vec_id"), col("x.sub"), col("x.svec"))

  /** (vec_id, sub, cid): nearest codebook centroid per subspace, by the
    * exact integer sub-distance, ties to the lower cid. Projection of
    * [[assignCarry]]. */
  def assign(subs: DataFrame, cb: Codebooks): DataFrame =
    assignCarry(subs, cb).select(col("vec_id"), col("sub"), col("cid"))

  /** `subs` + `cid`, MAP-ONLY (guide §2.4): each exploded (vec_id, sub,
    * svec) row runs its own subspace's codebook as a single-subspace
    * [[graft.functions.PqAssignCodes]] argmin, selected through a
    * lazily-evaluated CASE branch (only the matching branch runs) —
    * zero exchange, `svec` stays on the row. */
  private def assignCarry(subs: DataFrame, cb: Codebooks): DataFrame = {
    val branches = cb.entries.zipWithIndex.map { case (es, sI) =>
      (sI, element_at(pqColumn(col("svec"), cb.subDim, Seq(es)), 1)) }
    subs.withColumn("cid", branches.tail.foldLeft(
      when(col("sub") === branches.head._1, branches.head._2)) {
        case (acc, (sI, cid)) => acc.when(col("sub") === sI, cid) })
  }

  /** The [[graft.functions.PqAssignCodes]] column over `vec` for the
    * dense per-subspace entries `es` (code j = position j). */
  private[ext] def pqColumn(vec: org.apache.spark.sql.Column, subDim: Int,
      es: Seq[Seq[Seq[Double]]]): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftShims.column(graft.functions.PqAssignCodes(
      org.apache.spark.sql.GraftShims.expression(vec), subDim,
      es.map(_.indices), es))

  /** Train per-subspace codebooks: seed sub-codebook j from the j-th
    * vector (by vec_id — deterministic), then Lloyd iterations over ALL
    * subspaces in one distributed assign + one mean job per round. */
  def train(emb: DataFrame, m: Int = 8, k: Int = 16, iters: Int = 2): Codebooks = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val seeds = Ivf.seedPrefix(emb, k).orderBy(col("vec_id")).limit(k)
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toSeq)
    var cb = Codebooks(m, subDim, for {
      s <- 0 until m
      (v, j) <- seeds.zipWithIndex
    } yield (s, j, v.slice(s * subDim, (s + 1) * subDim)))
    val subs = subvectors(emb, m, subDim).localCheckpoint(true)
    (1 to iters).foreach { _ =>
      val means = assignCarry(subs, cb)
        .select(col("sub"), col("cid"), posexplode(col("svec")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(avg(col("col").cast("double")).as("mean"))
        .collect()
        .groupBy(r => (r.getAs[Int]("sub"), r.getAs[Int]("cid")))
        .map { case (key, rows) =>
          key -> rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("mean").toFloat).toSeq
        }
      // a centroid that lost every member keeps its previous position
      cb = cb.copy(cents = cb.cents.map { case (s, c, old) =>
        (s, c, means.getOrElse((s, c), old)) })
    }
    cb
  }

  /** (vec_id, codes): each vector as m codebook ids in subspace order —
    * all m argmins in one [[graft.functions.PqAssignCodes]] project on
    * the un-exploded row. */
  def encode(emb: DataFrame, cb: Codebooks): DataFrame =
    emb.select(col("vec_id"),
      pqColumn(col("embedding"), cb.subDim, cb.entries).as("codes"))

  /** ADC top-k: exact query subvectors against candidate CODES.
    * Returns (query_id, rnk, neighbor_id).
    *
    * The candidate stream is ONE row per (query, neighbor): codes ride
    * as [[encode]]'s array, the per-query m·k LUT rides the broadcast
    * query row as one array column ([[IvfPq.lutArray]]), and each row
    * computes its complete score as m `element_at` adds
    * ([[IvfPq.adcSum]]) — exact long addition (guide §2.3/§2.4). */
  def topKAdc(emb: DataFrame, queries: DataFrame, k: Int, cb: Codebooks): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    val codes = encode(emb, cb)
      .select(col("vec_id").as("neighbor_id"), col("codes"))
    val qlut = queries.select(col("vec_id").as("query_id"),
      IvfPq.lutArray(col("embedding"), cb.subDim, cb.entries).as("_lut"))
    codes.join(broadcast(qlut), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        IvfPq.adcSum(cb.entries.head.size, cb.m).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"))
  }

  /** The production PQ shape: ADC prunes the corpus to a `shortlist`
    * per query, exact scaled-integer cosine re-ranks only the
    * shortlist. Degenerate-exact configuration: a codebook
    * with `k = |corpus|` seeds and zero Lloyd iterations makes every
    * subvector its own centroid — reconstruction is exact, the ADC
    * score equals the exact dot bit-for-bit (same per-element floors,
    * integer addition regroups freely) — and a shortlist ≥ |corpus|
    * passes everything through, so the result equals brute force and
    * sits under the same hash oracle as `q_cosine_topk`. */
  def topKRerank(emb: DataFrame, queries: DataFrame, k: Int,
      cb: Codebooks, shortlist: Int): DataFrame =
    Similarity.rerankExact(
      topKAdc(emb, queries, shortlist, cb)
        .select(col("query_id"), col("neighbor_id")),
      emb, queries, Similarity.norms(emb), k)
}
