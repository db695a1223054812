package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring — the CCNet-style filter
  * (Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets
  * from Web Crawl Data", LREC 2020): train an n-gram model on a
  * reference corpus, score every document by how surprising its n-grams
  * are under the model, and filter/bucket on the score. The reference
  * pipeline has no model stage — this is part of the training-data
  * extension surface.
  *
  * Scoring departs from log-perplexity the same way every ranked text
  * score in this engine does ([[TextStats.topTermsByRarity]],
  * [[TextStats.collocations]], [[Retrieval.bm25TopK]]): a libm `log`
  * and a floating sum would not hash-gate bit-identically across
  * engines, so the score is the ARITHMETIC mean of the integer-scaled
  * inverse conditional probabilities (log-perplexity is the geometric
  * mean's log; the arithmetic mean ranks "surprising" documents the
  * same way while staying pure BIGINT). With add-1 smoothing over a
  * vocabulary of V distinct unigrams, an n-gram g with context prefix
  * c(g) (its first n-1 tokens) contributes per OCCURRENCE:
  *
  * {{{
  *   surprisal(g) = (scale * (ctx(c(g)) + V)) div (cnt(g) + 1)
  *   nll_scaled   = sum(surprisal over occurrences) div occurrences
  * }}}
  *
  * `cnt(g)` is the model's occurrence count of g, `ctx(c)` the count of
  * occurrences with prefix c (= sum of cnt over the prefix's
  * continuations, so unseen-but-valid contexts score 0 + V). Inverse
  * probability 1/p = (ctx + V)/(cnt + 1) is >= 1 scaled; higher =
  * more surprising = lower quality under the model.
  *
  * Shuffle census at 100 TB:
  *  - training: per-doc n-gram counts come from the `ngram_counts` byte
  *    scan (NO exchange — one row per distinct n-gram per doc, never one
  *    per window position), then ONE corpus aggregation on the n-gram
  *    key; the context table derives from the model by one further
  *    aggregation on the prefix (vocabulary-sized input, not
  *    corpus-sized). V is a one-row distinct count on the unigram key.
  *  - scoring: the same map-side per-doc counts, then two UNHINTED
  *    equi-joins — n-gram -> model, prefix -> context table. Both model
  *    sides are vocabulary-sized (1e8-1e9 distinct n-grams at 100 TB),
  *    so the scale-safe plan shuffles on the well-distributed string
  *    keys; Catalyst's size-based auto-broadcast upgrades them when the
  *    model measures small. Only the one-row V crosses with a hint.
  *    Left joins keep OOV n-grams (cnt 0) and OOV contexts (ctx 0)
  *    scoreable when the scored set is NOT the training corpus.
  *  - per-doc totals partially aggregate map-side (BIGINT sums).
  *
  * Docs with fewer than n tokens have no n-grams and are absent from
  * the score output (no evidence either way — filter policy decides
  * upstream, same contract as [[graft.functions.WordNgrams]]).
  *
  * @param ngrams (term, cnt) corpus occurrence counts of each n-gram
  * @param contexts (ctx, n_ctx) occurrence counts of each n-1-gram prefix
  * @param vocab one-row (v) distinct-unigram count
  */
final case class LmModel(n: Int, ngrams: DataFrame, contexts: DataFrame,
    vocab: DataFrame)

object LmScore {

  /** Train an n-gram model: corpus n-gram counts, context (prefix)
    * counts, and the vocabulary size. One corpus scan, one shuffle. */
  def train(docs: DataFrame, n: Int = 2): LmModel = {
    require(n >= 2, s"LmScore needs n >= 2 (conditional model), got $n")
    val perDoc = docs.select(
        explode(call_function("ngram_counts", col("text"), lit(n))).as("gc"))
      .select(col("gc.term").as("term"), col("gc.cnt").cast("long").as("c"))
    val ngrams = perDoc.groupBy(col("term")).agg(sum(col("c")).as("cnt"))
    // prefix = first n-1 tokens = everything before the LAST space of
    // the joined n-gram (tokens cannot contain the separator)
    val contexts = ngrams
      .groupBy(substring_index(col("term"), " ", n - 1).as("ctx"))
      .agg(sum(col("cnt")).as("n_ctx"))
    val vocab = docs.select(
        explode(call_function("word_counts", col("text"))).as("tc"))
      .select(col("tc.term").as("t"))
      .agg(count_distinct(col("t")).as("v"))
    LmModel(n, ngrams, contexts, vocab)
  }

  /** Pin a trained model for REUSE (and for `broadcastModel` scoring):
    * materialize the ngram table ONCE, derive the context table from
    * the PINNED ngrams (it is a tiny re-aggregation of the model, not
    * of the corpus — deriving it from the lazy plan would re-pay the
    * corpus aggregate a second time), and pin the one-row vocab (else
    * every score() run re-scans the corpus for it). After freeze, a
    * score pass reads only pinned blocks plus the corpus being scored
    * — the CCNet production shape, where one reference-trained model
    * scores many incoming batches. */
  def freeze(m: LmModel): LmModel = {
    val ng = m.ngrams.localCheckpoint(true)
    val ctx = ng
      .groupBy(substring_index(col("term"), " ", m.n - 1).as("ctx"))
      .agg(sum(col("cnt")).as("n_ctx"))
      .localCheckpoint(true)
    LmModel(m.n, ng, ctx, m.vocab.localCheckpoint(true))
  }

  /** Persist a model for reuse across sessions — the CCNet production
    * shape's missing half: [[freeze]] pins a model for THIS session;
    * save/load make it an artifact a scoring fleet loads without ever
    * seeing the reference corpus. All four tables (ngrams, contexts,
    * vocab, and the one-row `n` params sidecar) commit as member tables
    * under ONE [[graft.land.AtomicLanding]] root publish, so a reader
    * can never load ngrams from one training run and contexts from
    * another (the torn-pair discipline every persisted index in this
    * engine follows — same protocol as [[Retrieval.buildIndex]]). */
  def save(m: LmModel, path: String): String = {
    import graft.land.AtomicLanding
    val s = m.ngrams.sparkSession
    import s.implicits._
    val nv = AtomicLanding.commit(m.ngrams, s"$path/ngrams")
    val cv = AtomicLanding.commit(m.contexts, s"$path/contexts")
    val vv = AtomicLanding.commit(m.vocab, s"$path/vocab")
    val pv = AtomicLanding.commit(Seq(m.n).toDF("n"), s"$path/params")
    AtomicLanding.publishLinked(path,
      Map("ngrams" -> nv, "contexts" -> cv, "vocab" -> vv, "params" -> pv),
      expectedRoot = AtomicLanding.currentRootVersion(path))
    path
  }

  /** Load a [[save]]d model at the root's current generation — one
    * consistent snapshot of all four members. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): LmModel = {
    import graft.land.AtomicLanding
    val snap = AtomicLanding.linkedSnapshot(path).getOrElse(
      throw new NoSuchElementException(s"no published LM model at $path"))
    def rd(m: String): DataFrame =
      AtomicLanding.readVersion(spark, s"$path/$m", snap.members(m))
    LmModel(rd("params").head().getInt(0),
      rd("ngrams"), rd("contexts"), rd("vocab"))
  }

  /** Score (doc_id, text) rows under a trained model:
    * (doc_id, n_grams, nll_scaled) — arithmetic-mean scaled inverse
    * conditional probability, higher = more surprising. */
  def score(docs: DataFrame, model: LmModel, scale: Long = 1000L,
      broadcastModel: Boolean = false): DataFrame = {
    val n = model.n
    val perDoc = docs.select(col("doc_id"),
        explode(call_function("ngram_counts", col("text"), lit(n))).as("gc"))
      .select(col("doc_id"), col("gc.term").as("term"),
        col("gc.cnt").cast("long").as("c"))
    // broadcastModel declares the model tables executor-memory-sized,
    // making both lookups map-side — the corpus-sized per-doc rows then
    // never shuffle before their doc-local aggregate. Use it when the
    // model was trained on a REFERENCE corpus (the CCNet shape: the
    // model is vocabulary-bounded while the scored corpus is 100 TB);
    // size estimates alone cannot see that, because the planner prices
    // the aggregate's input, not its distinct output. Identical rows
    // either way — LM_PROFILE_r17/r20 price the two plans at the 100× dir.
    def side(df: DataFrame): DataFrame =
      if (broadcastModel) broadcast(df) else df
    perDoc
      .join(side(model.ngrams), Seq("term"), "left")
      .withColumn("ctx", substring_index(col("term"), " ", n - 1))
      .join(side(model.contexts), Seq("ctx"), "left")
      .crossJoin(broadcast(model.vocab))
      .withColumn("surprisal", expr(
        s"($scale * (coalesce(n_ctx, 0L) + v)) div (coalesce(cnt, 0L) + 1)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        sum(expr("c * surprisal")).as("tot"))
      .select(col("doc_id"), col("n_grams"),
        expr("tot div n_grams").as("nll_scaled"))
  }
}
