package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** BM25 full-text retrieval: score a bounded batch of queries against the
  * document corpus and return each query's top-k documents.
  *
  * The reference pipeline lands raw text into the lake
  * (`dataIngestionUtils.py:70-115` writes the landing files that a
  * downstream retrieval index consumes); the retrieval operator itself is
  * part of the training-data/RAG extension surface, not the reference's
  * own code. The scoring is the Robertson/Sparck-Jones BM25 shape
  * (Robertson et al., TREC-3) with `k1 = 6/5`, `b = 3/4`, with two
  * deliberate departures that make the score a pure BIGINT — the same
  * trade [[TextStats.topTermsByRarity]] and [[TextStats.collocations]]
  * make (a libm `log`/floating sum would not hash-gate bit-identically
  * across engines, and FLOAT SUM is order-dependent where BIGINT SUM is
  * not):
  *
  *  - idf is the RAW odds ratio `(N - df + 1/2) / (df + 1/2)`, scaled by
  *    `idfScale` and floor-divided — not its log. Order-preserving per
  *    term (the log is monotone); across terms it weights rare terms
  *    more aggressively than log-idf, exactly like the rarity score.
  *  - `avgdl` is floored to an integer once (`totalTokens div nDocs`);
  *    every downstream division is integer floor division.
  *
  * Per query term t in document d:
  * {{{
  *   idf_t   = (idfScale * (2N - 2·df_t + 1)) div (2·df_t + 1)
  *   contrib = qtf_t * (idf_t * 44 * tf * avgdl)
  *                 div (20 * tf * avgdl + 6 * avgdl + 18 * dl)
  * }}}
  * where the 44/20/6/18 constants are `k1 = 6/5`, `b = 3/4` multiplied
  * through: `tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` over a common
  * denominator `20·avgdl`. `qtf` is the query-side term count (repeated
  * query terms weight linearly). All factors are exact BIGINTs, so the
  * per-document SUM is associative — any aggregation order, any engine,
  * same hash.
  *
  * Tokenization is the engine's standard single-space split
  * ([[graft.functions.NgramCounts]] at n = 1 ≡ DuckDB `string_split(text, ' ')`);
  * `dl` counts split tokens (spaces+1), consistent with the tf table.
  *
  * Shuffle census at 100 TB (the plan-walk spec asserts the broadcast
  * side):
  *  - per-doc tf comes from the `word_counts` byte scan — NO exchange;
  *    one corpus scan, column-pruned to (doc_id, text).
  *  - the query term table is BROADCAST (a retrieval batch is bounded by
  *    contract — thousands of terms, not corpus-sized), so candidate
  *    filtering happens map-side BEFORE any shuffle: docs containing no
  *    query term never leave their partition. For a corpus-scale query
  *    set (retrieval self-join shapes) pass `broadcastQueries = false`
  *    and both sides shuffle on the well-distributed `term` key — the
  *    same dual [[IvfPq.probe]]/[[IvfPq.probeShuffle]] expose.
  *  - df is computed on the FILTERED candidates by a map-side-combined
  *    aggregate and rejoined (broadcast under the bounded-query
  *    contract, shuffle on `term` in the dual) — NOT by a
  *    term-partitioned window, which would buffer each term's entire
  *    posting list in one task (a stopword straggler the maxDf cap
  *    cannot prevent, since df is counted before the cap can drop the
  *    list). The agg's partial combine sends one row per (partition,
  *    term) to the exchange. Cost: the candidate byte scan executes
  *    twice — measured SMALL next to the per-exploded-row dl recompute
  *    this file's history fixed (SURVEY §15.3).
  *  - corpus stats (N, total tokens) are ONE one-row aggregate over
  *    another scan pruned to `text`; the stats scan carries no shuffle.
  *  - per-(query, doc) scores partially aggregate map-side (BIGINT sum),
  *    and the final per-query top-k is [[Similarity.TopKLongAgg]] — a
  *    bounded heap that combines before its exchange, ≤ k rows per
  *    (partition, query), not a `row_number` window funneling every
  *    candidate of a hot query through one partition.
  *
  * Output: (query_id, rnk, doc_id, score_scaled), rnk 1..k per query by
  * (score desc, doc_id asc); queries matching fewer than k docs emit
  * fewer rows, queries matching none emit none.
  */
object Retrieval {

  /** @param docs    (doc_id long, text string) corpus
    * @param queries (query_id long, qtext string) bounded retrieval batch
    * @param k       results per query
    * @param idfScale integer idf scale; 1000 keeps the worst-case
    *                 contribution product (idfScale·2N·2·maxDf·44·tf·avgdl)
    *                 inside Long for corpora to ~10^9 docs — raise only for
    *                 small corpora needing finer idf resolution
    * @param broadcastQueries hint the bounded query-term side (default);
    *                 false leaves both scoring joins to shuffle on `term`
    *                 for corpus-scale query sets
    * @param maxDf   drop query terms whose document frequency exceeds
    *                 this ABSOLUTE posting-list length (None = keep all).
    *                 THE quadratic-cost valve for corpus-scale query sets:
    *                 a term matched by q queries and df docs contributes
    *                 q·df scoring rows, so an absolute cap bounds every
    *                 term's join cost at qf·maxDf INDEPENDENT of corpus
    *                 size — the impact-ordered-index prune. (A fractional
    *                 cap would not survive scale-up: as N grows, a fixed
    *                 fraction admits ever-longer posting lists, and in
    *                 vocabulary-scaling corpora each shard's stopwords
    *                 slip under the global fraction while keeping their
    *                 full per-shard list length.) Cut terms are
    *                 stopword-frequency — their idf sits at the floor
    *                 already, so scores barely move. The cap filters the
    *                 df TABLE (true corpus df over the query vocabulary),
    *                 not per-candidate rows, so surviving terms score
    *                 identically to the uncapped run. */
  def bm25TopK(
      docs: DataFrame,
      queries: DataFrame,
      k: Int,
      idfScale: Long = 1000L,
      broadcastQueries: Boolean = true,
      maxDf: Option[Long] = None): DataFrame =
    scoreTopK(tfOf(docs), dfPre = None, statsOf(docs), queries, k,
      idfScale, broadcastQueries, maxDf)

  /** [[bm25TopK]] with the `maxDf` valve as a SETTING
    * ([[FuzzyJoin.Valve]]): `Auto` runs [[recommendMaxDf]]'s sampled
    * census over THIS corpus and applies the cap only when it engages
    * — inert (bit-identical to uncapped) on corpora without a
    * stopword-shaped df tail, logged either way. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
      valve: FuzzyJoin.Valve): DataFrame =
    bm25TopK(docs, queries, k, maxDf = FuzzyJoin.resolveCap(valve,
      a => recommendMaxDf(docs, a.quantile, a.headroom,
        a.sampleFraction, a.seed),
      "bm25TopK"))

  /** Per-doc (doc_id, dl, term, tf) — map-side byte scan, no exchange.
    * dl is computed in its OWN projection BEFORE the explode: selected
    * alongside the explode it lands in the post-Generate project and
    * the full-text split re-runs once per exploded TERM row instead of
    * once per doc — measured as the dominant cost of the corpus-scale
    * self-join at 100× (~dl-terms × text-length splits, SURVEY §15). */
  private def tfOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      size(split(col("text"), " ", -1)).cast("long").as("dl"),
      col("text"))
    .select(col("doc_id"), col("dl"),
      explode(call_function("word_counts", col("text"))).as("tc"))
    .select(col("doc_id"), col("dl"), col("tc.term").as("term"),
      col("tc.cnt").cast("long").as("tf"))

  /** One-row corpus stats; avgdl floored ONCE. */
  private def statsOf(docs: DataFrame): DataFrame = docs
    .agg(count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ", -1)).cast("long")).as("n_tok"))
    .select(col("n_docs"), expr("n_tok div n_docs").as("avgdl"))

  /** `maxDf` VALVE ADVISOR — [[FuzzyJoin.recommendMaxBucket]]'s formula
    * over POSTING-LIST lengths, so corpus-scale query sets stop
    * guessing [[bm25TopK]]'s quadratic-cost cap. One sampled census: a
    * `sampleFraction` doc sample's per-term document frequencies feed
    * one map-side-combined aggregate (approx-quantile sketch + max),
    * and the recommendation is `headroom × q_quantile(df) /
    * sampleFraction`.
    *
    * RECALL CONTRACT: the cap only cuts terms more than `headroom`×
    * more frequent than the `quantile`-typical vocabulary term — true
    * stopword outliers, whose idf sits at the floor already, so
    * surviving scores are UNCHANGED (the cap filters the df table, per
    * [[bm25TopK]]'s scaladoc). On a corpus without a stopword-shaped
    * tail the advice comes back `engages = false` and applying the cap
    * is a no-op — bit-identical scores, spec-asserted. Sampling scales
    * observed frequencies back by 1/f exactly as the bucket advisor
    * does; the advice carries the (scaled) evidence for logging. */
  def recommendMaxDf(docs: DataFrame, quantile: Double = 0.999,
      headroom: Long = 8L, sampleFraction: Double = 1.0,
      seed: Long = 42L): FuzzyJoin.ValveAdvice = {
    require(quantile > 0 && quantile < 1, s"quantile in (0,1): $quantile")
    require(headroom >= 1, s"headroom >= 1: $headroom")
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      s"sampleFraction in (0,1]: $sampleFraction")
    val sample =
      if (sampleFraction >= 1.0) docs
      else docs.sample(withReplacement = false, sampleFraction, seed)
    val r = tfOf(sample)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .agg(percentile_approx(col("df"), lit(quantile), lit(10000)).as("q"),
        max(col("df")).as("mx")).head()
    FuzzyJoin.adviseFromRow(r, headroom, sampleFraction)
  }

  /** Persisted inverted index — the multi-query-SESSION dual of the
    * inline path. The inline [[bm25TopK]] byte-scans the corpus text
    * twice PER BATCH (candidate scan under the df aggregate and again
    * as the probe side — §15.3's accepted trade for a straggler-free
    * df); right for a one-shot batch, wrong for a retrieval session
    * issuing many. The index is TWO [[graft.land.AtomicLanding]]
    * tables under `path`, published together through ONE
    * [[graft.land.AtomicLanding.publishLinked]] root generation (the
    * engine-wide linked-table primitive the IVF and IVF-PQ saved
    * indexes share):
    *
    *  - `postings/` (doc_id, dl, term, tf) — append-only ACID table;
    *    one corpus byte scan at build, one BATCH scan per append.
    *  - `derived/` (term, df, n_docs, n_tok) — df rows (term, df,
    *    null, null) plus ONE stats row (null, null, n_docs, n_tok).
    *
    * The root pins the postings version each derived generation was
    * computed from, so "postings appended but df stale" is
    * UNOBSERVABLE by construction: a probe resolves the root once and
    * reads BOTH members at their pins — all-old or all-new, never
    * postings from one generation scored with df from another. Writers
    * serialize through the root's CAS ([[syncRoot]]): two concurrent
    * df folders can never both apply their delta onto the same base
    * (the lost-update/double-fold race a timestamp or batch-id
    * handshake alone cannot exclude — the loser FAILS its publish,
    * re-resolves, and folds only what is still missing). A crash
    * between the postings commit and the root swing leaves the batch
    * durable but unpublished; the next append or maintenance folds the
    * missed dirs' delta (O(missed batches), exact by the additivity of
    * df/n_docs/n_tok over disjoint doc sets) and publishes both.
    *
    * Every subsequent batch scores with NO text scan and NO df
    * aggregation. df(term) over the whole corpus EQUALS df over the
    * candidate set (every doc containing the term is a candidate for
    * it), so indexed scores are bit-identical to the inline path —
    * `q_bm25_indexed` hash-gates that equality against the same oracle
    * as `q_bm25`, and RetrievalSpec pins frame-level equality incl.
    * under a maxDf cap. */
  def buildIndex(docs: DataFrame, path: String,
      batchId: Option[Long] = None): String = {
    import graft.land.AtomicLanding
    val s = docs.sparkSession
    // batchId = seed watermark (Ivf.buildSavedIndex's contract): vouch
    // the build corpus so the first identified append skips the scan
    val pv = AtomicLanding.commit(tfOf(docs), s"$path/postings",
      batchId = batchId)
    derivedRebuilds.incrementAndGet()
    val dv = AtomicLanding.commit(
      derivedOf(AtomicLanding.readVersion(s, s"$path/postings", pv)),
      s"$path/derived")
    AtomicLanding.publishLinked(path,
      Map("postings" -> pv, "derived" -> dv),
      expectedRoot = AtomicLanding.currentRootVersion(path))
    path
  }

  /** Postings dirs read by the ADDITIVE df/stats maintenance — the
    * O(batch) proof seam: RetrievalSpec asserts each append's derived
    * refresh reads exactly the one dir that append committed, never
    * the accumulated index. */
  private[ext] val dfDeltaPostingDirs =
    new java.util.concurrent.atomic.AtomicLong
  /** Full derived rebuilds (the RECOVERY path — build time, or a
    * manifest whose dir diff is not a pure append, e.g. compaction). */
  private[graft] val derivedRebuilds =
    new java.util.concurrent.atomic.AtomicLong
  /** O(index) dedupe scans taken by id-less [[addToIndex]] appends —
    * the proof seam that an identified batch (replayed OR new) never
    * pays the live-postings anti-join. */
  private[ext] val dedupeIndexScans =
    new java.util.concurrent.atomic.AtomicLong

  /** (term, df) rows ∪ the one stats row, from any postings slice —
    * shared by build (whole corpus), the additive delta (one batch
    * dir), and the catch-up fold. Additive by construction: doc sets
    * of distinct postings dirs are disjoint (the append anti-join
    * dedupes at doc granularity and doc ids are immutable), so
    * summing two slices' rows per term — nulls grouping as the stats
    * key — IS the union slice's derivation. */
  private def derivedOf(postings: DataFrame): DataFrame =
    postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .select(col("term"), col("df"),
        lit(null).cast("long").as("n_docs"),
        lit(null).cast("long").as("n_tok"))
      .unionByName(
        postings.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_tok"))
          .select(lit(null).cast("string").as("term"),
            lit(null).cast("long").as("df"), col("n_docs"), col("n_tok")))

  /** Sum two derived slices per term (null term = the stats row). */
  private def foldDerived(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("term"))
      .agg(sum(col("df")).as("df"), sum(col("n_docs")).as("n_docs"),
        sum(col("n_tok")).as("n_tok"))
      .select(col("term"), col("df"), col("n_docs"), col("n_tok"))

  /** Advance the root until it covers the postings table's LIVE
    * pointer — the single writer-side maintenance primitive. The
    * normal path is ADDITIVE and O(missed batches): the manifest diff
    * names exactly the dirs appended since the root's postings pin,
    * their delta is one aggregation over THOSE dirs, and the fold
    * touches the vocabulary-sized derived table — the accumulated
    * postings are never re-read. Falls back to a full re-derivation
    * (O(index), [[derivedRebuilds]]-counted) when the dir diff removed
    * dirs — a compaction/merge rewrote the postings layout out from
    * under this folder. No-op when the root is already current.
    *
    * SERIALIZED BY THE ROOT CAS: the fold window is computed from the
    * very generation the publish is conditioned on, so a concurrent
    * folder that wins the CAS first invalidates this one — it
    * re-resolves and folds only the still-missing window (never
    * double-applies, never drops). Returns the snapshot it left live. */
  private def syncRoot(spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      beforeRootPublish: () => Unit = () => ()): graft.land.AtomicLanding.LinkedSnapshot = {
    import graft.land.AtomicLanding
    val postingsT = s"$indexPath/postings"
    val derivedT = s"$indexPath/derived"
    while (true) {
      val snap = AtomicLanding.linkedSnapshot(indexPath).getOrElse(
        throw new IllegalStateException(s"no BM25 index at $indexPath"))
      val pLive = AtomicLanding.currentVersion(postingsT).getOrElse(
        throw new IllegalStateException(s"no postings table at $postingsT"))
      val pPin = snap.members("postings")
      if (pLive == pPin) return snap
      val (added, removed) =
        graft.land.ChangeFeed.dirDelta(postingsT, pPin, pLive)
      val dv =
        if (removed.nonEmpty) {
          derivedRebuilds.incrementAndGet()
          AtomicLanding.commit(
            derivedOf(AtomicLanding.readVersion(spark, postingsT, pLive)),
            derivedT)
        } else if (added.isEmpty) snap.members("derived") // pure repin
        else {
          dfDeltaPostingDirs.addAndGet(added.size)
          AtomicLanding.commit(foldDerived(
            AtomicLanding.readVersion(spark, derivedT, snap.members("derived")),
            derivedOf(spark.read.parquet(added.map(d => s"$postingsT/$d"): _*))),
            derivedT)
        }
      try {
        AtomicLanding.publishLinked(indexPath,
          Map("postings" -> pLive, "derived" -> dv),
          expectedRoot = Some(snap.rootVersion),
          beforePublish = beforeRootPublish)
        return AtomicLanding.linkedSnapshot(indexPath).get
      } catch {
        // a concurrent appender/maintainer advanced the root first: its
        // publish covered ITS window; re-resolve and fold what remains
        case _: java.util.ConcurrentModificationException => ()
      }
    }
    sys.error("unreachable")
  }

  /** Index MAINTENANCE for a long-running retrieval session: append a
    * new batch of documents to a [[buildIndex]] index so the corpus can
    * GROW without re-scanning its text (the [[FuzzyJoin.addToSigIndex]]
    * / [[Ivf.addToIndex]] precedent). One text scan over the BATCH
    * produces its postings; the anti-join against the live snapshot
    * dedupes at (doc_id, term) granularity, so re-appending a committed
    * batch is a no-op (nothing commits at all). Doc ids are
    * immutable-by-contract: re-submitting a doc_id with DIFFERENT text
    * is undefined (the same rule every persisted index in the engine
    * carries).
    *
    * df/stats maintenance is the ADDITIVE delta, O(batch) per append:
    * the postings commit publishes first (atomic), then [[syncRoot]]
    * folds just the committed dir into `derived/` and CAS-publishes
    * the root pinning both new versions. A crash between the postings
    * commit and the root swing cannot corrupt anything — probes keep
    * the previous consistent generation, and the next append or
    * maintenance folds the missed delta itself (O(missed batches)).
    * `beforePublish` is [[graft.land.AtomicLanding.commit]]'s test
    * seam on the postings commit; `beforeRootPublish` is the root
    * swing's, so specs can probe the index from inside either crash
    * window.
    *
    * The grown index scores bit-identically to a fresh [[buildIndex]]
    * over the union corpus — value-gated by `q_bm25_grown` (which
    * shares `q_bm25`'s oracle) and frame-asserted in RetrievalSpec.
    *
    * REPLAY COST: `batchId` rides the
    * [[graft.land.LinkedIndex.appendOnce]] ladder — a known-committed
    * replay is a pure [[syncRoot]] heal with ZERO postings reads and
    * ZERO batch scans, a known-new id skips the dedupe anti-join.
    * Id-less appends dedupe at (doc_id, term) granularity at O(index)
    * read per append — fine for manual growth, wrong for a 100 TB
    * streaming ingest, which should always carry its micro-batch id. */
  def addToIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, docs: DataFrame,
      batchId: Option[Long] = None,
      beforePublish: () => Unit = () => (),
      beforeRootPublish: () => Unit = () => (),
      writer: String = ""): String = {
    // the ladder's known-committed replay reads nothing; syncRoot then
    // folds our dir (and any crashed predecessor's) into derived and
    // publishes — the pure heal when our batch was a replay
    graft.land.LinkedIndex.appendOnce(s"$indexPath/postings", tfOf(docs),
      Seq("doc_id", "term"), batchId, writer, dedupeIndexScans, beforePublish)
    syncRoot(spark, indexPath, beforeRootPublish)
    indexPath
  }

  /** Long-SESSION index maintenance — what a retrieval deployment runs
    * periodically after many [[addToIndex]] batches: every append adds
    * one postings data dir and one superseded derived generation, so an
    * unmaintained session decays into the streaming small-file problem
    * plus unbounded superseded snapshots.
    *
    *  1. [[syncRoot]] — fold a crashed predecessor's missed delta and
    *     bring the root's postings pin to the live pointer;
    *  2. fold the small-postings-dir tail through
    *     [[graft.land.AtomicLanding.compactSmallFrom]] pinned to the
    *     just-synced base — body dirs above `smallBytes` are never
    *     rewritten; an append landing between the sync and the fold
    *     planning fails the pin loudly (re-sync and retry) so a
    *     not-yet-folded batch can NEVER be swallowed into the fold
    *     output, while an append landing DURING the fold rides the
    *     compaction rebase and is identifiable (everything in the new
    *     manifest that is neither kept-from-base nor the reported fold
    *     dir) — its df delta folds additively, O(those batches);
    *  3. CAS-publish the root pinning the compacted postings and the
    *     (content-identical, possibly extended) derived generation — a
    *     concurrent appender that wins the CAS first simply sends this
    *     maintainer back to step 1;
    *  4. [[graft.land.AtomicLanding.vacuumLinked]]: superseded root
    *     generations plus quiescence-guarded member vacuums
    *     (grace-protected for live writers — but like any vacuum, a
    *     probe still holding a superseded snapshot older than this
    *     maintenance loses it: the Delta retention trade).
    *
    * Concurrent probes, appends, AND other maintainers are all safe —
    * every publish is a root CAS, so the losing writer of any race
    * recomputes instead of double-applying or dropping a delta.
    * Returns the vacuum-reclaimed paths. */
  def maintainIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, smallBytes: Long = 64L * 1024 * 1024,
      reservationGraceMs: Long = 600000L,
      retainRootGenerations: Int = 0,
      beforeFoldCommit: () => Unit = () => ()): Seq[String] = {
    import graft.land.AtomicLanding
    val postingsT = s"$indexPath/postings"
    val derivedT = s"$indexPath/derived"
    var done = false
    while (!done) {
      val snap = syncRoot(spark, indexPath)
      val pv = snap.members("postings")
      val folded =
        try Some(AtomicLanding.compactSmallFrom(spark, postingsT, smallBytes,
          expectedBase = Some(pv), beforeCommit = beforeFoldCommit))
        catch {
          // an append moved postings past our sync, or a concurrent
          // rewrite landed mid-fold — re-sync and retry the fold
          case _: java.util.ConcurrentModificationException => None
        }
      folded match {
        case None => ()
        case Some(f) if f.foldDir.isEmpty => done = true // nothing to fold
        case Some(f) =>
          val fd = f.foldDir.get
          val baseDirs = AtomicLanding.dirsOfVersion(postingsT, pv).toSet
          val carried = AtomicLanding.dirsOfVersion(postingsT, f.version)
            .filterNot(d => baseDirs.contains(d) || d == fd)
          val dv =
            if (carried.isEmpty) snap.members("derived")
            else {
              dfDeltaPostingDirs.addAndGet(carried.size)
              AtomicLanding.commit(foldDerived(
                AtomicLanding.readVersion(spark, derivedT,
                  snap.members("derived")),
                derivedOf(spark.read.parquet(
                  carried.map(d => s"$postingsT/$d"): _*))),
                derivedT)
            }
          try {
            AtomicLanding.publishLinked(indexPath,
              Map("postings" -> f.version, "derived" -> dv),
              expectedRoot = Some(snap.rootVersion))
            done = true
          } catch {
            case _: java.util.ConcurrentModificationException => ()
          }
      }
    }
    AtomicLanding.vacuumLinked(indexPath, futureGraceMs = reservationGraceMs,
      retainRoots = retainRootGenerations)
  }

  /** Score a query batch from a [[buildIndex]] index. Same output
    * contract and same bits as [[bm25TopK]] on the indexed corpus.
    * ONE root resolution pins BOTH members, so the probe is
    * snapshot-isolated against every concurrent append, fold, and
    * compaction — and needs none of the read-side healing a two-pointer
    * layout would: the pinned derived was derived from exactly the
    * pinned postings, by the writer protocol's invariant. (A batch a
    * crashed appender committed but never published is simply not yet
    * visible — the next writer folds and publishes it.) */
  def bm25TopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      k: Int,
      idfScale: Long = 1000L,
      broadcastQueries: Boolean = true,
      maxDf: Option[Long] = None): DataFrame = {
    import graft.land.AtomicLanding
    val snap = AtomicLanding.linkedSnapshot(indexPath).getOrElse(
      throw new IllegalStateException(s"no BM25 index at $indexPath"))
    val postings = AtomicLanding.readVersion(spark, s"$indexPath/postings",
      snap.members("postings"))
    val derived = AtomicLanding.readVersion(spark, s"$indexPath/derived",
      snap.members("derived"))
    scoreTopK(postings,
      dfPre = Some(derived.where(col("term").isNotNull)
        .select(col("term"), col("df"))),
      derived.where(col("term").isNull)
        .select(col("n_docs"), expr("n_tok div n_docs").as("avgdl")),
      queries, k, idfScale, broadcastQueries, maxDf)
  }

  /** The shared scoring core. `dfPre = None` counts df over the
    * candidates per batch (inline path); `Some(table)` joins the
    * prebuilt corpus df — restricted to the query vocabulary FIRST, so
    * the broadcast hint covers a query-bounded slice, never the whole
    * vocabulary. */
  private def scoreTopK(
      tf: DataFrame,
      dfPre: Option[DataFrame],
      stats: DataFrame,
      queries: DataFrame,
      k: Int,
      idfScale: Long,
      broadcastQueries: Boolean,
      maxDf: Option[Long]): DataFrame = {
    require(k >= 1, s"bm25TopK needs k >= 1, got $k")
    require(maxDf.forall(_ > 0), s"maxDf must be positive: $maxDf")

    val hint = (d: DataFrame) => if (broadcastQueries) broadcast(d) else d

    // query-side term counts: qtf weights repeated query terms
    val qterms = queries
      .select(col("query_id"),
        explode(call_function("word_counts", col("qtext"))).as("qc"))
      .select(col("query_id"), col("qc.term").as("term"),
        col("qc.cnt").cast("long").as("qtf"))

    // candidate rows: only docs containing some query term survive the
    // map-side broadcast semi-filter (distinct terms — qtf re-attaches
    // in the scoring join, and duplicating candidate rows per repeated
    // query term before df would inflate df)
    val qvocab = qterms.select(col("term")).distinct()
    val cand = tf.join(hint(qvocab), Seq("term"))

    // df over the filtered candidates: one row per (doc, term) by
    // word_counts construction, so count(*) = document frequency.
    // A groupBy + rejoin, deliberately NOT a term-partitioned window:
    // the aggregate partially combines MAP-SIDE, so a stopword's
    // posting list contributes one row per partition to the exchange,
    // while a window would shuffle the raw candidate stream and buffer
    // each term's ENTIRE list in one task before emitting a row — at
    // real corpus scale a 10%-of-corpus stopword becomes a straggler /
    // spill hot task that the maxDf cap cannot prevent (df must be
    // counted before the filter can drop the list). The price is that
    // the candidate byte scan executes twice (once under the agg, once
    // as the probe side) — measured as the SMALL term of the
    // corpus-scale cost (54.5 → 50 s at the 100× dir; the dominant
    // term was the per-exploded-row dl recompute fixed above). The
    // indexed path pays neither scan: its df table was built once.
    // The absolute cap cuts long posting lists from the df TABLE,
    // before the scoring join multiplies them by the query side.
    val dfT0 = dfPre match {
      case Some(table) => table.join(hint(qvocab), Seq("term"))
      case None => cand.groupBy(col("term")).agg(count(lit(1)).as("df"))
    }
    val dfT = maxDf match {
      case Some(cap) => dfT0.filter(col("df") <= lit(cap))
      case None      => dfT0
    }

    val topk = udaf(new Similarity.TopKLongAgg(k),
      Encoders.product[Similarity.ScoredL])

    cand
      .join(hint(dfT), Seq("term"))
      .join(hint(qterms), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_scaled",
        expr(s"($idfScale * (2 * n_docs - 2 * df + 1)) div (2 * df + 1)"))
      .withColumn("contrib",
        expr("qtf * ((idf_scaled * 44 * tf * avgdl) div " +
          "(20 * tf * avgdl + 6 * avgdl + 18 * dl))"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score_scaled"))
      .groupBy(col("query_id"))
      .agg(topk(col("doc_id"), col("score_scaled")).as("top"))
      .select(col("query_id"), posexplode(col("top.items")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.cid").as("doc_id"), col("col.s").as("score_scaled"))
  }

  /** Reciprocal-rank fusion — the standard way to combine a lexical
    * (BM25) and a semantic (embedding-cosine) ranking into one hybrid
    * retrieval result without comparing their incommensurable scores:
    * each ranker contributes 1/(kRrf + rank) per (query, candidate) and
    * candidates re-rank by the contribution sum (Cormack, Clarke &
    * Büttcher, SIGIR'09; kRrf = 60 is the paper's constant).
    * Contributions are floor(scale / (kRrf + rank)) BIGINTs — at
    * scale = 1e12 the fusion is integer-exact and replays in any engine
    * with floor division, the same determinism recipe as the BM25
    * scoring itself.
    *
    * Inputs carry (query_id, id, rnk); rankers' extra columns are
    * ignored. Scale shape: the fused candidate set is at most
    * |queries| × Σ per-ranker k rows — bounded by construction, so the
    * union + sum + rank window all run on a table the size of the
    * RESULTS, not the corpus; the heavy lifting stays inside the
    * rankers, which keep their own 100-TB paths. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, kRrf: Int = 60,
      scale: Long = 1000000000000L): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    import org.apache.spark.sql.expressions.Window
    val contribs = rankings.map(_.select(col("query_id"), col("id"),
      expr(s"${scale}L div (${kRrf}L + rnk)").as("contrib")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("id").asc)
    contribs.reduce(_ unionAll _)
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("contrib")).as("rrf_score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }
}
