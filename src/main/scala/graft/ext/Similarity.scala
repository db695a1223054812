package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Determinism: float sums are NOT associative, so a parallel Spark sum
  * and a sequential DuckDB sum of the same products can differ in the last
  * bits and fail the value-hash gate. Every dot product here is therefore
  * accumulated EXACTLY: each elementwise product is computed in double
  * (deterministic IEEE), scaled by 1e15, floored to a long, and the longs
  * are summed — integer addition is associative, so any execution order
  * gives the same result, and 64 * 1e15 < 2^63 keeps ANSI mode happy.
  * The final cosine is a fixed chain of IEEE double ops on those exact
  * integers — bit-identical in any engine.
  */
object Similarity {

  /** Exact scaled dot product of two float-array columns as a long.
    * Resolves to the codegen'd [[graft.functions.DotScaled]] expression
    * (registered by [[graft.Sessions.build]] /
    * [[graft.functions.GraftExtensions]]) — a tight generated Java loop
    * instead of an interpreted lambda per element. */
  def dotScaled(a: Column, b: Column): Column =
    call_function("dot_scaled", a, b)

  /** vec_id, n2: exact scaled squared norm per vector. */
  def norms(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), dotScaled(col("embedding"), col("embedding")).as("n2"))

  /** L2-normalize an embedding column — the preprocessing step before
    * cosine ops can become plain dot products. The norm derives from the
    * scaled-integer self-dot (order-independent), then each component
    * divides through one fixed IEEE chain and casts back to float —
    * reproducible bit-for-bit in any engine that follows the same chain.
    * Zero vectors pass through unchanged (norm 0 → divide skipped). */
  def l2normalize(e: Column): Column = {
    val norm = sqrt(dotScaled(e, e).cast("double") / lit(1e15))
    transform(e, x =>
      when(norm === lit(0.0d), x)
        .otherwise((x.cast("double") / norm).cast("float")))
  }

  /** All (query, candidate) cosine pairs for the given query set.
    * The query side is broadcast — the big candidate side is scanned once
    * and never shuffled, which is the correct 1000-executor plan when
    * |queries| << |candidates|. */
  def cosinePairs(emb: DataFrame, queries: DataFrame): DataFrame = {
    val n2 = norms(emb)
    broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qe")))
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce")),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("dots", dotScaled(col("qe"), col("ce")))
      // query norm computed INLINE from the already-joined query embedding
      // (order-independent integer math == norms(emb)'s value bit-for-bit).
      // Never broadcast the corpus-sized n2 table renamed to query_id: at
      // 1e9 vectors that is a multi-GB driver-built broadcast just to look
      // up a handful of query norms.
      .withColumn("nq2", dotScaled(col("qe"), col("qe")))
      .join(n2.select(col("vec_id").as("neighbor_id"), col("n2").as("nc2")), "neighbor_id")
      .withColumn("cos_sim",
        col("dots").cast("double") /
          sqrt(col("nq2").cast("double") * col("nc2").cast("double")))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
  }

  /** The shared EXACT re-rank tail of every shortlist-based ANN path
    * ([[Pq.topKRerank]], [[IvfPq.probe]]): candidate (query_id,
    * neighbor_id) pairs join back the corpus embeddings and norms,
    * score by the exact scaled-integer cosine, rank (cos desc, id asc),
    * keep top k. One definition so a change to the tie-break or the
    * 1e15 scale cannot silently miss a copy. The query norm is computed
    * INLINE from the broadcast query embedding — bit-identical to the
    * `n2` table's value (order-independent integer accumulation), and it
    * means queries need NOT be part of the indexed corpus. The corpus
    * `n2` table joins only on the NEIGHBOR side, as a shuffle join —
    * broadcasting it keyed by query_id would ship the whole corpus's
    * norms through the driver at 100 TB. ([[Ivf.probe]] fuses the same
    * math into its list join instead of re-joining the corpus; that
    * divergence is a deliberate fusion, not a second implementation of
    * the contract).
    *
    * `broadcastQueries` selects the physical strategy for attaching the
    * query embedding — values are identical either way. `true` (default)
    * fits the production probe shape: a bounded query batch broadcasts
    * into the candidate set. `false` shuffle-joins on query_id instead,
    * for the ANN-self-join / dedup-by-ANN shape where queries ≈ corpus
    * and broadcasting them would ship the corpus through the driver. */
  def rerankExact(cand: DataFrame, emb: DataFrame, queries: DataFrame,
      n2: DataFrame, k: Int, broadcastQueries: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"))
    cand
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce")),
        "neighbor_id")
      .join(if (broadcastQueries) broadcast(q) else q, "query_id")
      .withColumn("dots", dotScaled(col("qe"), col("ce")))
      .withColumn("nq2", dotScaled(col("qe"), col("qe")))
      .join(n2.select(col("vec_id").as("neighbor_id"), col("n2").as("nc2")),
        "neighbor_id")
      .withColumn("cos_sim",
        col("dots").cast("double") /
          sqrt(col("nq2").cast("double") * col("nc2").cast("double")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos_sim"))
  }

  /** Brute-force top-k via ranking window: partition by query, order by
    * (cos desc, id asc) for a deterministic tie-break. The baseline path;
    * shuffles once on query_id. */
  def topKBrute(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    cosinePairs(emb, queries)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos_sim"))
  }

  /** Hard-negative mining — the contrastive-training data shape: for
    * each anchor, the k most-similar corpus vectors BELOW the
    * near-duplicate band. A contrastive batch wants negatives the model
    * almost confuses with the anchor (high cosine: random negatives are
    * too easy and teach nothing), but a near-duplicate of the anchor is
    * a FALSE negative that actively corrupts the loss — so the mined
    * pair sits in the band `cos_sim < dupThreshold`, ranked (cos desc,
    * id asc), self excluded. Exact scaled-integer cosine
    * ([[cosinePairs]]) so the band edge replays cross-engine.
    *
    * Scale path: the predicate composes with every shortlist-based ANN
    * tier — probe [[Ivf]]/[[IvfPq]] with k + headroom, filter the
    * re-ranked shortlist at `dupThreshold`, keep k — so mining never
    * needs the brute corpus scan this baseline performs; and the dedup
    * tiers ([[graft.ext.SemDedup]]) supply the threshold that separates
    * "hard negative" from "undetected duplicate" on the same quantized
    * geometry. */
  def hardNegatives(emb: DataFrame, anchors: DataFrame, k: Int,
      dupThreshold: Double): DataFrame =
    hardNegativesFrom(cosinePairs(emb, anchors), k, dupThreshold)

  /** [[hardNegatives]] over ANY precomputed candidate ranking — the
    * composed scale path the baseline's scaladoc promises: probe an ANN
    * tier with k + headroom ([[graft.ext.Ivf.topKIvf]],
    * [[graft.ext.IvfPq.probe]], or [[topKBrute]] — anything emitting
    * (query_id, neighbor_id, cos_sim)), band-filter below the dup
    * threshold, keep k. The filter is per-row, so it never widens the
    * shortlist's cost; size the headroom to cover the anchors' expected
    * duplicate count (each excluded near-dup frees one slot). */
  def hardNegativesFrom(ranked: DataFrame, k: Int,
      dupThreshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    ranked.select(col("query_id"), col("neighbor_id"), col("cos_sim"))
      .where(col("cos_sim") < lit(dupThreshold))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id").as("anchor_id"), col("rnk"),
        col("neighbor_id"), col("cos_sim"))
  }

  // ------------------------------------------------- bounded-heap top-k UDAF

  final case class Scored(cid: Long, cos: Double)
  final case class TopBuf(items: Seq[Scored])

  /** Bounded top-k aggregator (SURVEY §7.3 custom-op candidate (2)): the
    * buffer never exceeds k entries, so a groupBy(query).agg(topK) does
    * partial aggregation map-side and shuffles ONLY k rows per (partition,
    * query) — unlike the window plan, which shuffles every candidate row.
    * That is the 100 TB path for top-k-by-similarity. Deterministic
    * tie-break: (cos desc, cid asc).
    *
    * FULL-BUFFER FAST PATH (r20, guide §1.2 step 2 — per-task work): the
    * buffer is kept sorted by `trim`, so once it holds k entries a
    * candidate strictly worse than the k-th under the (cos desc, cid
    * asc) total order returns the buffer UNCHANGED — zero allocation,
    * zero sort. After the running top-k warms up, almost every candidate
    * row takes this path (the old shape copied and re-sorted the whole
    * k-entry buffer once per candidate). A skipped row can never enter
    * the final top-k, so the result is bit-identical. */
  final class TopKAgg(k: Int) extends Aggregator[Scored, TopBuf, TopBuf] {
    private def trim(s: Seq[Scored]): Seq[Scored] =
      s.sortBy(x => (-x.cos, x.cid)).take(k)
    def zero: TopBuf = TopBuf(Nil)
    def reduce(b: TopBuf, a: Scored): TopBuf = {
      if (b.items.size >= k) {
        val w = b.items.last // trim keeps the buffer sorted; last = k-th
        if (a.cos < w.cos || (a.cos == w.cos && a.cid > w.cid)) return b
      }
      TopBuf(trim(b.items :+ a))
    }
    def merge(x: TopBuf, y: TopBuf): TopBuf = TopBuf(trim(x.items ++ y.items))
    def finish(r: TopBuf): TopBuf = r
    def bufferEncoder: Encoder[TopBuf] = Encoders.product[TopBuf]
    def outputEncoder: Encoder[TopBuf] = Encoders.product[TopBuf]
  }

  final case class ScoredL(cid: Long, s: Long)
  final case class TopBufL(items: Seq[ScoredL])

  /** Long-score twin of [[TopKAgg]] for scaled-integer scores (ADC sums,
    * probe dots): casting them to double would lose exactness above 2^53
    * (~9e15 — one unit dot at the 1e15 scale), silently reordering
    * near-ties. Tie-break (s desc, cid asc); sortWith (not a negated key)
    * so Long.MinValue cannot overflow. */
  final class TopKLongAgg(k: Int) extends Aggregator[ScoredL, TopBufL, TopBufL] {
    private def trim(x: Seq[ScoredL]): Seq[ScoredL] =
      x.sortWith((a, b) => a.s > b.s || (a.s == b.s && a.cid < b.cid)).take(k)
    def zero: TopBufL = TopBufL(Nil)
    def reduce(b: TopBufL, a: ScoredL): TopBufL = {
      // full-buffer fast path — see [[TopKAgg]]: strictly worse than the
      // k-th under (s desc, cid asc) cannot enter; skip without alloc
      if (b.items.size >= k) {
        val w = b.items.last
        if (a.s < w.s || (a.s == w.s && a.cid > w.cid)) return b
      }
      TopBufL(trim(b.items :+ a))
    }
    def merge(x: TopBufL, y: TopBufL): TopBufL = TopBufL(trim(x.items ++ y.items))
    def finish(r: TopBufL): TopBufL = r
    def bufferEncoder: Encoder[TopBufL] = Encoders.product[TopBufL]
    def outputEncoder: Encoder[TopBufL] = Encoders.product[TopBufL]
  }

  /** Same result as [[topKBrute]], computed with the bounded-heap UDAF. */
  def topKAgg(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val tk = udaf(new TopKAgg(k), Encoders.product[Scored])
    cosinePairs(emb, queries)
      .groupBy(col("query_id"))
      .agg(tk(col("neighbor_id"), col("cos_sim")).as("top"))
      .select(col("query_id"), posexplode(col("top.items")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.cid").as("neighbor_id"), col("col.cos").as("cos_sim"))
  }

  // --------------------------------------------- embedding near-dup pairs

  /** Deterministic gaussian hyperplanes as a DATAFLOW table (plane_id,
    * hvec) — for larger plane counts the broadcast cross-join beats a
    * literal expression tree (192 planes x 64 dims = 12k literals would
    * bloat analysis), and the signature computation becomes an ordinary
    * aggregation that scales with the cluster. */
  private def planeTable(spark: org.apache.spark.sql.SparkSession,
      nPlanes: Int, dim: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until nPlanes).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      .toDF("plane_id", "hvec")
  }

  /** (id, band, bkey) hyperplane band keys: bit = sign(v · h), packed
    * `bandBits` per band. One broadcast join + one shuffle by id. */
  def hyperplaneBands(emb: DataFrame, idCol: String,
      nPlanes: Int, bandBits: Int, seed: Long): DataFrame =
    emb.crossJoin(broadcast(planeTable(emb.sparkSession, nPlanes, AnnDim, seed)))
      .select(col(idCol),
        expr(s"plane_id div $bandBits").as("band"),
        expr(s"plane_id % $bandBits").as("pos"),
        (dotScaled(col("embedding"), col("hvec")) > 0).as("bit"))
      .groupBy(col(idCol), col("band"))
      .agg(sum(expr("IF(bit, shiftleft(1L, pos), 0L)")).as("bkey"))

  /** Embedding-cosine near-duplicates: pairs with cosine >= threshold,
    * found via hyperplane-band candidate generation (never all-pairs) and
    * verified with the exact scaled-integer cosine. With 12 bands of 16
    * bits, a same-direction pair (near-dup angle ~0) misses all bands
    * with probability ~((angle/pi)*16)^12 — vanishing for near-dup
    * thresholds — while uncorrelated pairs (p_bit ~ 0.67 at the fixture's
    * 0.5-cosine background) collide on ~0.2% of bands per band pair, so
    * under ~2% of background pairs ever reach the exact verify. */
  def embedNearDupPairs(emb: DataFrame, threshold: Double,
      nPlanes: Int = 192, bandBits: Int = 16, seed: Long = 777L): DataFrame = {
    val bands = hyperplaneBands(emb, "vec_id", nPlanes, bandBits, seed)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    val n2 = norms(emb)
    cand
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .withColumn("dots", dotScaled(col("ea"), col("eb")))
      .join(n2.select(col("vec_id").as("vec_a"), col("n2").as("na")), "vec_a")
      .join(n2.select(col("vec_id").as("vec_b"), col("n2").as("nb")), "vec_b")
      .withColumn("cos_sim",
        col("dots").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")))
      .filter(col("cos_sim") >= lit(threshold))
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
  }

  /** Incremental embedding near-dup: candidates between an incoming
    * BATCH and the standing corpus only — corpus bands join broadcast
    * batch bands, the corpus never self-joins, and cost scales with the
    * batch. The embedding-modality mirror of
    * [[Dedup.minhashNearDupPairsAgainst]] — the production ingest shape:
    * dedup what arrives against what you have. */
  def embedNearDupPairsAgainst(corpus: DataFrame, batch: DataFrame,
      threshold: Double, nPlanes: Int = 192, bandBits: Int = 16,
      seed: Long = 777L): DataFrame = {
    val cb = hyperplaneBands(corpus, "vec_id", nPlanes, bandBits, seed)
      .select(col("vec_id").as("corpus_id"), col("band"), col("bkey"))
    val bb = hyperplaneBands(batch, "vec_id", nPlanes, bandBits, seed)
      .select(col("vec_id").as("batch_id"), col("band"), col("bkey"))
    val cand = cb.join(broadcast(bb), Seq("band", "bkey"))
      .select(col("corpus_id"), col("batch_id")).distinct()
    val cn = norms(corpus).select(col("vec_id").as("corpus_id"), col("n2").as("nc2"))
    val bn = norms(batch).select(col("vec_id").as("batch_id"), col("n2").as("nb2"))
    cand
      .join(corpus.select(col("vec_id").as("corpus_id"), col("embedding").as("ec")), "corpus_id")
      .join(broadcast(batch.select(col("vec_id").as("batch_id"), col("embedding").as("eb"))), "batch_id")
      .withColumn("dots", dotScaled(col("ec"), col("eb")))
      .join(cn, "corpus_id")
      .join(broadcast(bn), "batch_id")
      .withColumn("cos_sim",
        col("dots").cast("double") /
          sqrt(col("nc2").cast("double") * col("nb2").cast("double")))
      .filter(col("cos_sim") >= lit(threshold))
      .select(col("corpus_id"), col("batch_id"), col("cos_sim"))
  }

  // ------------------------------------------------------- LSH-bucketed ANN

  /** 16 fixed random hyperplanes (seeded — reproducible across runs).
    * Float components: the signature dot below is the exact scaled-integer
    * [[dotScaled]], whose contract is (array<float>, array<float>), and
    * floats emit as exact double literals for the cross-engine oracle. */
  val AnnPlanes = 16
  val AnnDim = 64
  val annHyperplanes: Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(424242L)
    Seq.fill(AnnPlanes)(Seq.fill(AnnDim)(rnd.nextGaussian().toFloat))
  }

  /** 16-bit random-hyperplane signature: bit j = sign(v · h_j). The dot
    * is the exact scaled-integer [[dotScaled]] — integer accumulation is
    * order-independent, so the signature (and therefore every bucket the
    * ANN probes) is bit-reproducible on ANY engine that follows the same
    * floor(double·double·1e15) chain; the DuckDB oracle for
    * `q_cosine_ann` re-derives it independently. sign(floor(x·1e15))
    * differs from sign(x) only inside |x| < 1e-15 — irrelevant for a
    * bucketing key. */
  def annSignature(v: Column): Column = {
    val bits = annHyperplanes.zipWithIndex.map { case (h, j) =>
      val hLit = array(h.map(lit): _*)
      when(dotScaled(v, hLit) > 0L, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Approximate top-k: candidates = vectors sharing at least one 4-bit
    * band of the query's 16-bit hyperplane signature (4-band LSH), exact
    * cosine + rank within candidates only. The scale path: the per-bucket
    * join replaces the full N x Q comparison. Band width tunes the
    * recall/cost point — 4 bits = 16 buckets/band keeps per-query
    * candidate sets large enough for useful recall at moderate N; at
    * billion-row scale widen the bands (more buckets) to keep buckets
    * bounded.
    *
    * The degenerate configuration `nBands = 1, bandBits = 0` masks every
    * signature to bucket 0: ALL vectors share one band bucket, the
    * candidate set is every pair, and the result is exact by
    * construction — which puts the whole signature→band→candidate→rank
    * machinery under the brute-force hash oracle (`q_cosine_ann_exact`)
    * while the production config stays approximate. */
  def topKAnn(emb: DataFrame, queries: DataFrame, k: Int,
      nBands: Int = 4, bandBits: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBands * bandBits <= AnnPlanes,
      s"$nBands bands x $bandBits bits exceeds the $AnnPlanes-bit signature")
    val mask = (1L << bandBits) - 1
    def bands(df: DataFrame, idCol: String): DataFrame =
      df.withColumn("sig", annSignature(col("embedding")))
        .select(col(idCol), col("embedding"),
          explode(array((0 until nBands).map(b =>
            struct(lit(b).as("band"),
              expr(s"shiftright(sig, ${b * bandBits}) & ${mask}L").as("bkey"))): _*)).as("b"))
        .select(col(idCol), col("embedding"), col("b.band"), col("b.bkey"))
    val qb = bands(queries.select(col("vec_id").as("query_id"), col("embedding")), "query_id")
      .select(col("query_id"), col("embedding").as("qe"), col("band"), col("bkey"))
    val cb = bands(emb.select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id")
      .select(col("neighbor_id"), col("embedding").as("ce"), col("band"), col("bkey"))
    val cand = broadcast(qb).join(cb,
        qb("band") === cb("band") && qb("bkey") === cb("bkey") &&
          col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("qe"), col("neighbor_id"), col("ce"))
      .distinct()
    val n2 = norms(emb)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    cand
      .withColumn("dots", dotScaled(col("qe"), col("ce")))
      .withColumn("nq2", dotScaled(col("qe"), col("qe")))
      .join(n2.select(col("vec_id").as("neighbor_id"), col("n2").as("nc2")), "neighbor_id")
      .withColumn("cos_sim",
        col("dots").cast("double") /
          sqrt(col("nq2").cast("double") * col("nc2").cast("double")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("cos_sim"))
  }
}
