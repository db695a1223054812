package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Semantic deduplication over quantized embeddings — the SemDeDup
  * recipe (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
  * through semantic deduplication", arXiv:2303.09540): cluster the
  * embedding corpus, compare vectors pairwise ONLY within their cluster,
  * and drop every vector that sits within a cosine ball of an
  * earlier-kept one. Unlike the surface-form tiers ([[Dedup]] MinHash /
  * SimHash over text), this removes documents that SAY the same thing in
  * different words — the dedup layer that fires after embedding, not
  * after shingling.
  *
  * Departures from the paper, both in the engine's established
  * determinism discipline:
  *  - similarity runs over int8-QUANTIZED codes ([[Quantize.int8Codes]],
  *    the frozen IEEE chain) rather than raw floats: integer dot
  *    products are exact cross-engine (no float-sum order hazard), and
  *    at 100 TB the 4×-smaller codes are what actually fits through the
  *    within-cluster self-join's shuffle.
  *  - the keep policy is deterministic: a vector is a duplicate iff SOME
  *    same-cluster vector with a SMALLER vec_id is within `tau` — the
  *    paper keeps one random member per ε-ball; min-id is the
  *    replayable choice, and `dup_of` records the smallest such witness.
  *
  * Cluster assignment follows the IVF tier's gated discipline
  * ([[Ivf]], iters = 0): centroids are the code vectors of the first
  * `nLists` ids, each vector joins the centroid of max quantized cosine
  * (tie → smaller cid). Zero-norm codes rank with sentinel -2 (below
  * any true cosine), never divide by zero.
  *
  * Shuffle census at 100 TB: one bounded centroid broadcast (nLists
  * rows) into the corpus scan, one exchange for the per-vector argmax
  * window (key: vec_id, perfectly distributed), one self-join exchange
  * on cid for the within-cluster pairs. The pairwise term is the
  * paper's own quadratic-in-cluster-size trade: size nLists so clusters
  * stay bounded (they grow O(corpus/nLists)); a skewed cluster shows up
  * as one straggling partition, the signal to retrain with more lists.
  */
object SemDedup {

  /** Exact integer dot of two code arrays — order-independent BIGINT
    * accumulation, the cross-engine-safe kernel. Resolves to the
    * codegen'd [[graft.functions.IntDot]] (a tight generated loop): the
    * verdict join below evaluates this once per candidate PAIR, and the
    * interpreted zip_with/aggregate chain it replaces was the hottest
    * non-codegen expression in the engine (guide §4). */
  private[ext] def intDot(a: Column, b: Column): Column =
    call_function("int_dot", a, b)

  /** Quantized cosine with the zero-norm sentinel (-2: below any true
    * cosine, so zero vectors are never duplicates and never win an
    * assignment tie they shouldn't). */
  private[ext] def qcos(dot: Column, n2a: Column, n2b: Column): Column =
    when(n2a === 0L || n2b === 0L, lit(-2.0d))
      .otherwise(dot.cast("double") /
        sqrt(n2a.cast("double") * n2b.cast("double")))

  /** Assign each (vec_id, codes, n2) row to its max-quantized-cosine
    * centroid (tie → smaller cid): the shared kernel of [[dedup]]'s
    * self-seeding path and [[SemDedupState]]'s frozen-centroid path.
    * `cents` is (cid, cvec, cn2) — nLists rows, bounded by contract.
    *
    * MAP-ONLY (r20, guide §2.4): the centroid table folds to ONE row
    * holding all nLists (cid, cvec, cn2) structs, broadcast into the
    * corpus scan, and the per-vector argmax runs as an `array_max` over
    * the per-centroid (qc, -cid, cid) score structs — struct ordering =
    * (qc desc-equivalent max, then min cid), exactly the old window's
    * (qc desc, cid asc) rank-1 row, bit-identical cid. The previous
    * shape expanded the corpus ×nLists through a crossJoin and ran a
    * row_number window — a full corpus×nLists exchange plus sort whose
    * only job was this per-row argmax. */
  private[ext] def assignToCodeCents(withN2: DataFrame,
      cents: DataFrame): DataFrame = {
    val centsRow = cents
      .agg(array_sort(collect_list(struct(col("cid"), col("cvec"), col("cn2"))))
        .as("_cs"))
    val best = array_max(transform(col("_cs"), c =>
      struct(
        qcos(intDot(col("codes"), c.getField("cvec")), col("n2"),
          c.getField("cn2")).as("qc"),
        (-c.getField("cid")).as("nc"),
        c.getField("cid").as("cid"))))
    withN2.crossJoin(broadcast(centsRow))
      .select(col("vec_id"), best.getField("cid").as("cid"),
        col("codes"), col("n2"))
  }

  /** The verdict stage alone, over ANY cluster assignment: `asn` is
    * (vec_id, cid, codes, n2) — one row per vector with its cluster and
    * its int8 code vector. This is the composition seam the scale story
    * rests on: at web scale the assignment does NOT come from the
    * [[dedup]] cross join but from the PERSISTED IVF index the ingest
    * pipeline already maintains ([[dedupWithIndex]] reads it straight
    * from the index's lists member), so semantic dedup pays only the
    * within-cluster pairwise term. Verdict: a vector is a duplicate iff
    * a same-cluster vector with a smaller id has quantized cosine >=
    * `tau`; `dup_of` records the smallest witness (-1 when kept). */
  def verdicts(asn: DataFrame, tau: Double): DataFrame = {
    val a = asn.select(col("cid"), col("vec_id").as("va"),
      col("codes").as("ca"), col("n2").as("na"))
    val b = asn.select(col("cid"), col("vec_id").as("vb"),
      col("codes").as("cb"), col("n2").as("nb"))
    val dup = a.join(b, Seq("cid"))
      .where(col("va") < col("vb"))
      .where(qcos(intDot(col("ca"), col("cb")), col("na"), col("nb"))
        >= lit(tau))
      .groupBy(col("vb").as("vec_id"))
      .agg(min(col("va")).as("dup_witness"))
    asn.select(col("vec_id"), col("cid"))
      .join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("dup_witness"), lit(-1L)).as("dup_of"),
        col("dup_witness").isNull.as("kept"))
  }

  /** int8 codes + integer self-norms for `emb` — the verdict stage's
    * input columns. */
  private[ext] def codesWithN2(emb: DataFrame): DataFrame =
    Quantize.int8Codes(emb).localCheckpoint(true)
      .select(col("vec_id"), col("codes"),
        intDot(col("codes"), col("codes")).as("n2"))

  /** [[verdicts]] over the cluster assignment of a PERSISTED IVF index
    * ([[Ivf.buildSavedIndex]]'s `lists` member, read at the current
    * root generation): the web-scale shape — the ANN index the
    * pipeline already maintains provides the clusters (its float-dot
    * assignment; positive scaling preserves a dot argmax, so a scaled
    * near-copy still shares its original's cluster), and this pass
    * pays only the quantization scan plus the within-cluster pairwise
    * term. Vectors absent from the index are not scored — dedup what
    * is indexed. */
  def dedupWithIndex(emb: DataFrame, indexPath: String,
      tau: Double): DataFrame = {
    val lists = graft.land.AtomicLanding
      .read(emb.sparkSession, s"$indexPath/lists")
      .select(col("neighbor_id").as("vec_id"), col("cid"))
    verdicts(codesWithN2(emb).join(lists, Seq("vec_id")), tau)
  }

  /** Per-vector verdicts: (vec_id, cid, dup_of, kept) — self-contained
    * form: quantize, assign by quantized cosine against the first
    * `nLists` code vectors (the IVF iters = 0 seeding discipline), then
    * [[verdicts]]. */
  def dedup(emb: DataFrame, nLists: Int, tau: Double): DataFrame = {
    val withN2 = codesWithN2(emb)
    verdicts(assignToCodeCents(withN2, seedCents(withN2, nLists)), tau)
  }

  /** First `nLists` code vectors by vec_id as (cid, cvec, cn2) — the
    * iters = 0 seeding discipline; bounded collect (nLists rows). */
  private[ext] def seedCents(withN2: DataFrame, nLists: Int): DataFrame = {
    val spark = withN2.sparkSession
    import spark.implicits._
    withN2.orderBy(col("vec_id")).limit(nLists).collect()
      .zipWithIndex.map { case (r, i) =>
        (i, r.getAs[scala.collection.Seq[Long]]("codes").toSeq,
          r.getAs[Long]("n2"))
      }.toSeq.toDF("cid", "cvec", "cn2")
  }
}
