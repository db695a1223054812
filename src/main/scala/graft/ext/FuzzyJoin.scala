package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance similarity self-join — the entity-resolution primitive
  * (near-identical customer/supplier/product names) the relational tier
  * lacked. The naive formulation is an O(n²) cross join with a
  * levenshtein filter; at corpus scale that is never acceptable, so
  * candidate generation uses the DELETION NEIGHBORHOOD signature scheme:
  *
  * For edit distance ≤ 1, define D(s) = {s} ∪ {s with one character
  * deleted}. Completeness: if ed(a,b) ≤ 1 then D(a) ∩ D(b) ≠ ∅ —
  *   - ed = 0: both contain the string itself;
  *   - insertion/deletion: the shorter string is literally a member of
  *     the longer one's deletion set (and of its own D);
  *   - substitution at position i: deleting position i from each side
  *     yields the same string.
  * Sharing a signature does NOT imply ed ≤ 1 (e.g. "ab"/"ba" share "a"),
  * so every candidate pair is verified with the codegen'd `levenshtein`
  * builtin — the signature join only has to be complete, never sound.
  *
  * Scale shape: a key of length L emits L+1 signatures, each reduced to
  * an 8-byte `xxhash64` before the shuffle (hash collisions are harmless
  * false candidates — verification filters them). The join is a plain
  * hash-bucketed equi-join on the signature hash: cost follows bucket
  * sizes (keys genuinely within distance 1 of many others), NEVER the
  * corpus square. This targets name-length entity attributes; for long
  * text near-dup use the MinHash/SimHash tier ([[Dedup]]), and for
  * ed ≤ k > 1 the partition-pigeonhole (PassJoin) generalization of the
  * same candidates-then-verify pattern is the path.
  */
object FuzzyJoin {

  /** {s} ∪ D1(s) in one higher-order transform: index i in 0..len deletes
    * the character at 0-based position i (i == len deletes nothing and
    * contributes s itself). */
  private[ext] def deletionSigs(c: Column): Column =
    transform(sequence(lit(0), length(c)),
      i => concat(c.substr(lit(1), i), c.substr(i + lit(2), length(c))))

  /** {s} ∪ D1(s) ∪ D2(s): every variant with ≤ 2 characters deleted.
    * D2 enumerates 1-based position pairs i < j —
    * s[1..i-1] + s[i+1..j-1] + s[j+1..L] — so |sigs| = 1 + L + C(L,2)
    * (~172 for an 18-char entity key: affordable for name-length
    * attributes, quadratic in L — NOT for document text; near-dup text
    * is [[Dedup]]'s tier). Guarded for L < 2 (no pair to delete).
    *
    * This is the ed ≤ 2 DISCRIMINATING signature scheme: unlike
    * PassJoin's partition signatures — whose first segment is the
    * literal shared prefix on corpora like "Customer#...", collapsing
    * every key into one bucket (all-pairs in disguise) — a deletion
    * signature carries the ENTIRE residual string, shared prefix
    * included, so a bucket only groups keys whose full content agrees
    * after ≤ 2 deletions. Bucket sizes on the zero-padded fixture
    * corpus stay bounded (asserted in FuzzyJoinSpec). */
  private[graft] def deletionSigs2(c: Column): Column = {
    val L = length(c)
    val d2 = flatten(transform(sequence(lit(1), L - 1), i =>
      transform(sequence(i + 1, L), j =>
        concat(c.substr(lit(1), i - 1),
          c.substr(i + 1, j - i - 1),
          c.substr(j + 1, L - j)))))
    concat(deletionSigs(c),
      when(L >= 2, d2).otherwise(array()))
  }

  /** (outName, sig_h): the deduped signature table of `key`'s distinct
    * non-null values. The per-key dedupe is load-bearing: a key emits
    * the SAME signature from every delete position of a repeated-char
    * run (zero-padded ids: deleting any of 5 leading zeros is one
    * string), and without it hot buckets join every copy against every
    * copy — candidate inflation quadratic in the run length (measured
    * 1.5M zero-padded names: ~4× fewer candidate rows deduped). */
  private[graft] def sigTable(df: DataFrame, key: String, outName: String,
      k: Int = 1): DataFrame = {
    val sigs =
      if (k >= 2) deletionSigs2(col(outName)) else deletionSigs(col(outName))
    df.select(col(key).as(outName)).where(col(outName).isNotNull)
      .distinct()
      .select(col(outName), explode(sigs).as("sig"))
      .select(col(outName), xxhash64(col("sig")).as("sig_h"))
      .distinct()
  }

  /** Candidate pairs from a signature equi-join, deduped (a pair can
    * share several signatures) and verified: the cheap length gate,
    * then exact levenshtein. */
  private def verified(candidates: DataFrame, l: String, r: String,
      k: Int = 1): DataFrame =
    candidates.select(col(l), col(r)).distinct()
      .where(abs(length(col(l)) - length(col(r))) <= k)
      .where(levenshtein(col(l), col(r)) <= k)

  /** Distinct unordered pairs (key_a < key_b) of distinct values of
    * `key` with levenshtein distance ≤ 1. Output columns
    * (`key_a`, `key_b`), unordered — callers sort. */
  def selfJoinEd1(df: DataFrame, key: String): DataFrame =
    selfJoinEdK(df, key, 1)

  /** [[selfJoinEd1]] generalized to edit distance ≤ `k` ∈ {1, 2}: same
    * candidates-then-verify shape over the k-deletion neighborhood
    * ([[deletionSigs2]] for the completeness + discrimination argument).
    * k = 2 is the real entity-resolution distance (two typos, a
    * dropped word boundary + a substitution); its signature table is
    * ~C(L,2)/L ≈ L/2× the ed1 table, still linear in the corpus.
    *
    * `maxBucket` is THE candidate-budget valve (the
    * [[Retrieval.bm25TopK]] `maxDf` precedent): drop signature buckets
    * holding more than this many keys BEFORE the self-join, bounding
    * every bucket's candidate contribution at C(maxBucket, 2)
    * regardless of corpus density — an ABSOLUTE cap for the same
    * reason maxDf is (a fraction admits ever-hotter buckets as the
    * corpus grows). This is a RECALL trade, explicit and documented: a
    * true pair whose ONLY shared signatures are hot buckets is lost.
    * On dense corpora that is rare — an ed ≤ 2 pair of L-char keys
    * shares up to ~C(L,2) distinct signatures, and hot buckets are
    * low-entropy residues — FuzzyJoinProbeSpec measures recall under
    * the valve on the adversarial zero-padded corpus. None (default)
    * is exact. Use when the corpus's edit-space density is unknown and
    * a worst-case quadratic bucket must not take the job down — the
    * measured growth on dense corpora is OUTPUT-bound (every candidate
    * verified is a real pair to emit), so the valve also caps the
    * result volume a downstream join must absorb. */
  def selfJoinEdK(df: DataFrame, key: String, k: Int,
      maxBucket: Option[Long] = None): DataFrame = {
    require(k == 1 || k == 2, s"selfJoinEdK supports k in {1,2}, got $k")
    require(maxBucket.forall(_ >= 2), s"maxBucket must be >= 2: $maxBucket")
    // INT-KEYED candidate pipeline (the Ed2Profile-measured shape): the
    // enumerate -> distinct leg — the join's real cost, ~2× the whole
    // corpus in candidate rows — carries (kid, kid) 16-byte pairs
    // instead of (name, name) strings; names join back AFTER the
    // distinct, only for the surviving candidates' levenshtein verify.
    // On the dense 15k-name adversarial corpus this halves the row
    // (string-pair distinct+verify ≈ 11 s vs int distinct + name-back
    // + verify ≈ 5.9 s), and the saving grows with scale: the distinct
    // shuffle is the volume that explodes at 10×/100×.
    // dim (the distinct-key spine) is referenced FOUR times below — the
    // signature table, both name-back joins, and the kid-injectivity
    // census (a separate driver action) — and the collision path makes
    // five; unpinned, each reference re-runs the corpus scan + distinct
    // exchange. Pin it once (guide §1.2 / §5: reuse beats recompute
    // when the frame is hit this many times).
    val dim = df.select(col(key).as("k")).where(col("k").isNotNull)
      .distinct()
      .select(col("k"), xxhash64(col("k")).as("kid"))
      .localCheckpoint(true)
    val sigsFn =
      if (k >= 2) deletionSigs2(col("k")) else deletionSigs(col("k"))
    val sigs0 = dim
      .select(col("kid"), length(col("k")).as("kl"), explode(sigsFn).as("sig"))
      .select(col("kid"), col("kl"), xxhash64(col("sig")).as("sig_h"))
      .distinct() // per-key dedupe — sigTable's contract, on int keys
    val sigs = maxBucket match {
      case Some(cap) =>
        // census + anti-join: one map-side-combined aggregate over the
        // signature table, never a key-pair enumeration
        val hot = sigs0.groupBy(col("sig_h"))
          .agg(count(lit(1)).as("_bc"))
          .filter(col("_bc") > cap).select(col("sig_h"))
        sigs0.join(hot, Seq("sig_h"), "left_anti")
      case None => sigs0
    }
    val a = sigs.select(col("kid").as("ka"), col("kl").as("la"), col("sig_h"))
    val b = sigs.select(col("kid").as("kb"), col("kl").as("lb"), col("sig_h"))
    // both sides are the SAME corpus-sized signature table — broadcast
    // is never the right strategy here, but the aggregate above makes
    // the planner's size estimate unreliable and an attempted broadcast
    // of ~30M signature rows OOM'd an 8g driver at 100×; declare the
    // sort-merge intent (spills, never materializes a side in heap)
    // the length tier rides the enumeration for free: |len(a)-len(b)|
    // <= k is a necessary condition for ed <= k, applied INSIDE the
    // bucket before the candidate distinct pays for the pair. (On the
    // fixed-width adversarial corpus it is vacuous by construction —
    // the real dense-corpus lever is the int-pair row width above.)
    val cand = a.join(b.hint("merge"), Seq("sig_h"))
      .where(col("ka") < col("kb") && abs(col("la") - col("lb")) <= k)
      .select(col("ka"), col("kb")).distinct()
    val backA = dim.select(col("kid").as("ka"), col("k").as("_na"))
    val backB = dim.select(col("kid").as("kb"), col("k").as("_nb"))
    val named = cand.join(backA, "ka").join(backB, "kb")
      .select(col("_na"), col("_nb"))
    // EXACTNESS under kid collisions (xxhash64 is a grouping proxy,
    // never trusted): a collision only ever MERGES two names onto one
    // kid. Cross-kid candidates re-expand to every name combination in
    // the back-join above and verify exactly; the one loss channel is
    // a true pair whose two names share a kid (ka < kb drops it), so
    // collided kid groups contribute their within-group pairs
    // directly, and the union keeps the operator exact BY CONSTRUCTION.
    // The expansion shuffles the whole name column via collect_list to
    // cover a ~2^-64 event, so it is GATED behind one cheap int-column
    // aggregate: |dim| = |distinct kid| ⟺ kid is injective on this
    // corpus ⟺ the expansion is provably empty. Every real corpus
    // takes the skip; a genuine collision flips the count inequality
    // and pays the expansion — exactness never rests on the hash.
    val kidCounts = dim
      .agg(count(lit(1)).as("_n"), count_distinct(col("kid")).as("_d"))
      .head()
    val withCollided =
      if (kidCounts.getLong(0) == kidCounts.getLong(1)) named
      else {
        val collided = dim.groupBy(col("kid"))
          .agg(collect_list(col("k")).as("_ks"))
          .where(size(col("_ks")) > 1)
          .select(explode(expr(
            "flatten(transform(_ks, (x, i) -> " +
              "transform(slice(_ks, i + 2, size(_ks)), y -> struct(x, y))))"))
            .as("_p"))
          .select(col("_p.x").as("_na"), col("_p.y").as("_nb"))
        named.unionByName(collided)
      }
    withCollided
      .select(least(col("_na"), col("_nb")).as("key_a"),
        greatest(col("_na"), col("_nb")).as("key_b"))
      .where(abs(length(col("key_a")) - length(col("key_b"))) <= k)
      .where(levenshtein(col("key_a"), col("key_b")) <= k)
  }

  /** The EXACT recall loss of a `maxBucket` cap — the valve's
    * adjudication probe. A true ed ≤ k pair survives the cap iff AT
    * LEAST ONE of its shared signatures sits in a sub-cap bucket, so
    * the lost set is characterized exactly: verified pairs whose MIN
    * shared-bucket size exceeds the cap ("eclipsed" pairs). This
    * computes that set directly (per-candidate min bucket size over the
    * UNCAPPED signature join), so by construction
    * `selfJoinEdK(cap) ∪ valveLoss(cap) == selfJoinEdK(exact)`,
    * disjointly — FuzzyJoinSpec asserts the identity.
    *
    * COST: the uncapped candidate enumeration — the exact join's
    * shuffle, including the hot buckets the cap exists to avoid. That
    * is inherent: certifying what a cap dropped requires looking inside
    * the dropped buckets. This is an ADJUDICATION tool (run once per
    * corpus shape to decide whether the engaged cap is lossless there),
    * never a production operator; production either trusts the
    * documented trade or runs exact.
    *
    * When is an ENGAGED cap lossless? Exactly when valveLoss is empty.
    * Structurally: a hot bucket of SAME-LENGTH keys groups keys equal
    * after ≤ k deletions, whose aligned-substitution pairs are true
    * ed ≤ k pairs sharing ONLY that bucket — so an engaged cap on a
    * uniform dense corpus should be PRESUMED lossy (the measured
    * q_fuzzy_names_ed2_auto trade). Hot buckets whose members sit at
    * pairwise ed > k (e.g. a shared residue reached from DIFFERENT
    * insertion positions) drop free — the lossless engaged regime the
    * q_fuzzy_ed2_auto_lossless gate pins against the brute-force
    * oracle. */
  def valveLoss(df: DataFrame, key: String, k: Int, cap: Long): DataFrame = {
    require(k == 1 || k == 2, s"valveLoss supports k in {1,2}, got $k")
    val sigs = sigTable(df, key, "k", k)
    val bc = sigs.groupBy(col("sig_h")).agg(count(lit(1)).as("_bc"))
    val s2 = sigs.join(bc, "sig_h")
    val a = s2.select(col("k").as("ka"), col("sig_h"), col("_bc"))
    val b = s2.select(col("k").as("kb"), col("sig_h"))
    val pairs = a.join(b.hint("merge"), Seq("sig_h"))
      .where(col("ka") < col("kb") &&
        abs(length(col("ka")) - length(col("kb"))) <= k)
      .groupBy(col("ka"), col("kb"))
      .agg(min(col("_bc")).as("_minBc"))
    pairs.where(col("_minBc") > cap)
      .where(levenshtein(col("ka"), col("kb")) <= k)
      .select(least(col("ka"), col("kb")).as("key_a"),
        greatest(col("ka"), col("kb")).as("key_b"))
  }

  /** Signature-bucket census — the capacity-planning aggregate behind
    * the ed ≤ k growth argument: over the deduped k-deletion signature
    * table, (n_sig_rows, n_buckets, max_bucket, cand_pairs = Σ C(b, 2))
    * — cand_pairs is EXACTLY the candidate volume the self-join would
    * shuffle, computed by one map-side-combined aggregate with no join
    * at all. graft.FuzzyProbe emits this census per scale leg so the
    * exponent claims in the probe artifact are counted, not argued. */
  def sigCensus(df: DataFrame, key: String, k: Int): (Long, Long, Long, Long) = {
    val b = sigTable(df, key, "k", k).groupBy(col("sig_h"))
      .agg(count(lit(1)).as("bc"))
    val r = b.agg(sum(col("bc")), count(lit(1)), max(col("bc")),
      sum(expr("bc * (bc - 1) div 2"))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** What a valve advisor recommends: the cap, whether it would
    * actually drop anything on the censused corpus (`engages`), and the
    * census evidence behind it — the (sample-scaled) hottest bucket and
    * the quantile bucket size the cap was derived from. */
  case class ValveAdvice(cap: Long, engages: Boolean,
      maxObserved: Long, quantileObserved: Long)

  /** Valve SETTING for the capped operators — the tri-state callers
    * pass instead of hand-sizing an `Option[Long]` cap:
    *
    *  - [[Valve.Off]] — exact, no cap;
    *  - [[Valve.Fixed]] — the classic explicit cap, unchanged;
    *  - [[Valve.Auto]] — run the operator's sampled census advisor
    *    ([[recommendMaxBucket]] / [[Retrieval.recommendMaxDf]]) and
    *    apply its recommendation IFF it engages: on a healthy corpus
    *    the advice comes back inert and the run is exact
    *    (bit-identical to Off, spec-asserted); on a pathological one
    *    (dense edit space, stopword-shaped df tail) the cap bounds the
    *    quadratic candidate volume under the advisor's documented
    *    recall contract. At 100 TB pass a small `sampleFraction` so
    *    the census reads a sample, never the corpus. */
  sealed trait Valve
  object Valve {
    case object Off extends Valve
    final case class Fixed(cap: Long) extends Valve
    final case class Auto(quantile: Double = 0.999, headroom: Long = 8L,
        sampleFraction: Double = 1.0, seed: Long = 42L) extends Valve
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.ext.FuzzyJoin")

  /** Shared [[Valve]] resolution ([[Retrieval.bm25TopK]] routes its
    * `maxDf` through the same switch): Auto runs the operator's census
    * and logs the evidence-backed decision either way, so a production
    * run records WHY it capped (or didn't) instead of an oracular
    * setting. */
  private[ext] def resolveCap(valve: Valve,
      census: Valve.Auto => ValveAdvice, what: String): Option[Long] =
    valve match {
      case Valve.Off => None
      case Valve.Fixed(c) => Some(c)
      case a: Valve.Auto =>
        val adv = census(a)
        if (adv.engages) {
          log.info(s"$what Auto valve ENGAGES: cap=${adv.cap} " +
            s"(max observed=${adv.maxObserved}, " +
            s"q${a.quantile}=${adv.quantileObserved}, headroom=${a.headroom})")
          Some(adv.cap)
        } else {
          log.info(s"$what Auto valve inert: max observed=" +
            s"${adv.maxObserved} within headroom ${a.headroom} of " +
            s"q${a.quantile}=${adv.quantileObserved} — running exact")
          None
        }
    }

  /** [[selfJoinEdK]] with the candidate-budget valve as a SETTING:
    * `Valve.Auto` runs [[recommendMaxBucket]]'s sampled census over
    * THIS corpus and applies the cap only when it engages — the
    * logged, evidence-backed alternative to guessing `maxBucket`. */
  def selfJoinEdK(df: DataFrame, key: String, k: Int,
      valve: Valve): DataFrame =
    selfJoinEdK(df, key, k, resolveCap(valve,
      a => recommendMaxBucket(df, key, k, a.quantile, a.headroom,
        a.sampleFraction, a.seed),
      s"selfJoinEdK(k=$k)"))

  /** `maxBucket` VALVE ADVISOR — stops callers guessing the
    * [[selfJoinEdK]] candidate-budget cap. One sampled census pass: a
    * `sampleFraction` key sample's signature-bucket sizes feed one
    * map-side-combined aggregate (approx-quantile sketch + max — both
    * mergeable, no join, no pair enumeration), and the recommendation is
    *
    * {{{ cap = headroom × q_quantile(bucket sizes) / sampleFraction }}}
    *
    * RECALL CONTRACT: the cap only drops buckets more than `headroom`×
    * hotter than the corpus's `quantile`-typical bucket. On a corpus
    * whose edit-space density is healthy (real entity keys — hash-like
    * suffixes, injected typos) the hottest bucket sits inside
    * headroom× of typical, `engages` comes back false, and applying the
    * cap is a NO-OP — exact output, zero recall loss (spec-asserted on
    * the sparse probe corpus). On a pathological corpus (dense
    * sequential keys whose ≤2-edit neighborhoods are all live) the hot
    * tail is orders of magnitude above typical: the cap engages, bounds
    * every bucket's candidate contribution at C(cap, 2), and loses only
    * pairs whose EVERY shared signature is hot — the measured dense
    * recall trade [[selfJoinEdK]]'s scaladoc documents. Callers wanting
    * a harder budget pass a smaller `headroom`; `quantile` defaults to
    * 99.9% so one-in-a-thousand buckets at most shape the baseline.
    *
    * Sampling: a fraction-f key sample scales a size-B bucket to
    * ~Binomial(B, f), so observed sizes are scaled back by 1/f before
    * the headroom multiplies — at 100 TB the census runs on the sample,
    * never the corpus. The returned advice carries the evidence
    * (`maxObserved`, `quantileObserved`, both sample-scaled) so the
    * decision is loggable, not oracular. */
  def recommendMaxBucket(df: DataFrame, key: String, k: Int,
      quantile: Double = 0.999, headroom: Long = 8L,
      sampleFraction: Double = 1.0, seed: Long = 42L): ValveAdvice = {
    require(quantile > 0 && quantile < 1, s"quantile in (0,1): $quantile")
    require(headroom >= 1, s"headroom >= 1: $headroom")
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      s"sampleFraction in (0,1]: $sampleFraction")
    val keys =
      if (sampleFraction >= 1.0) df
      else df.sample(withReplacement = false, sampleFraction, seed)
    val r = sigTable(keys, key, "k", k)
      .groupBy(col("sig_h")).agg(count(lit(1)).as("bc"))
      .agg(percentile_approx(col("bc"), lit(quantile), lit(10000)).as("q"),
        max(col("bc")).as("mx")).head()
    adviseFromRow(r, headroom, sampleFraction)
  }

  /** Shared advisor arithmetic ([[Retrieval.recommendMaxDf]] uses the
    * same formula over posting-list lengths). Floor of 2: a cap below 2
    * would drop EVERY shareable bucket. */
  private[ext] def adviseCap(q: Long, mx: Long, headroom: Long,
      sampleFraction: Double): ValveAdvice = {
    val scale = (v: Long) => math.ceil(v / sampleFraction).toLong
    val cap = math.max(2L, headroom * scale(q))
    ValveAdvice(cap, engages = cap < scale(mx), scale(mx), scale(q))
  }

  /** An EMPTY census (no input rows, or a sampleFraction whose sample
    * came back empty) yields null aggregates — there is no evidence to
    * size a cap from, so the advice is inert: a cap that can never
    * engage, not a NullPointerException. Callers wanting a hard error on
    * empty corpora can check `quantileObserved == 0`. */
  private[ext] def adviseFromRow(r: org.apache.spark.sql.Row,
      headroom: Long, sampleFraction: Double): ValveAdvice =
    if (r.isNullAt(0) || r.isNullAt(1))
      ValveAdvice(Long.MaxValue, engages = false, 0L, 0L)
    else adviseCap(r.getLong(0), r.getLong(1), headroom, sampleFraction)

  /** Incremental variant — the production entity-resolution shape: match
    * a NEW batch of keys against an existing corpus without re-joining
    * the corpus to itself. Candidates come from corpus-signature ⋈
    * batch-signature, so per-batch cost scales with the batch (the
    * corpus side contributes one signature pass, which a long-running
    * deployment amortizes by persisting its signature table — the same
    * contract as [[Dedup]]'s `minhashNearDupPairsAgainst`). Exact ed = 0
    * matches are INCLUDED (a real dedup gate wants them); output
    * (`key_new`, `key_corpus`), unordered.
    *
    * `broadcastBatch = true` (default) is the point of the incremental
    * shape: the bounded batch-signature table broadcasts and the corpus
    * streams past it map-side, no corpus shuffle at all. Pass `false`
    * when the "batch" is itself corpus-sized (a backfill) — then the
    * join declares sort-merge, the same never-broadcast-a-corpus rule as
    * [[selfJoinEd1]] (and the same dual as BM25's `broadcastQueries`). */
  def againstCorpusEd1(batch: DataFrame, corpus: DataFrame, key: String,
      broadcastBatch: Boolean = true): DataFrame = {
    val bs = sigTable(batch, key, "key_new")
    val cs = sigTable(corpus, key, "key_corpus")
    val candidates =
      if (broadcastBatch) broadcast(bs).join(cs, Seq("sig_h"))
      else bs.join(cs.hint("merge"), Seq("sig_h"))
    verified(candidates, "key_new", "key_corpus")
  }

  /** Persist the corpus signature table for a long-running incremental
    * ER session — the [[graft.ext.Retrieval.buildIndex]] contract
    * applied here: [[againstCorpusEd1]] re-derives corpus signatures on
    * EVERY batch (a full corpus scan + explode), which is right for a
    * one-shot match and wrong for a session issuing many. Build runs
    * the signature pipeline once and materializes (key_corpus, sig_h)
    * columnar; every subsequent batch joins the slim parquet directly —
    * no corpus text scan at all. Results are bit-identical to the
    * inline path (same signature pipeline, shared code). The table is
    * an [[graft.land.AtomicLanding]] table: every generation publishes
    * through an atomic pointer swing, so a probe racing an append reads
    * either the old or the new snapshot, never a torn listing. */
  def buildSigIndex(corpus: DataFrame, key: String, path: String,
      batchId: Option[Long] = None): String = {
    // batchId = seed watermark (Ivf.buildSavedIndex's contract): vouch
    // the build corpus so the first identified append skips the scan
    graft.land.AtomicLanding.commit(
      sigTable(corpus, key, "key_corpus"), s"$path/sigs",
      batchId = batchId)
    path
  }

  /** Index MAINTENANCE for a long-running incremental ER session:
    * append a new batch's signatures to a [[buildSigIndex]] index so
    * the session's corpus can GROW without a rebuild (the
    * [[Ivf.addToIndex]] precedent — one signature job that scales with
    * the batch, never a corpus re-scan). The append is an ACID commit:
    * a crash mid-append publishes NOTHING (the staged dir is invisible
    * garbage a vacuum reclaims) and the retry simply commits the whole
    * batch — no torn partial append can exist for the anti-join to
    * heal. The anti-join's remaining job is replay under at-least-once
    * ingest: it dedupes at SIGNATURE granularity — left_anti on
    * (key_corpus, sig_h) — so re-submitting a committed batch commits
    * nothing at all. Without the dedupe, a duplicated signature row
    * would double-emit its candidate pairs into every later probe's
    * verification (correct output after distinct(), but paying the
    * duplicate join volume forever). The grown index is row-identical
    * to a fresh [[buildSigIndex]] over the union corpus (asserted in
    * FuzzyJoinSpec). Concurrent probe/append sessions are safe by the
    * ACID pointer: a reader resolves one snapshot and keeps it —
    * FuzzyJoinSpec probes the index from INSIDE the append's
    * pre-publish window via `beforePublish` (the
    * [[graft.land.AtomicLanding.commit]] test seam, passed through).
    *
    * REPLAY COST: `batchId` is the at-least-once ingest's fast path
    * (the [[graft.land.AtomicLanding.streamSink]] contract — monotone
    * per checkpointed query, recorded inside the sigs manifest in the
    * same atomic swing as the data; the
    * [[Retrieval.addToIndex]]/[[Ivf.addToSavedIndex]] precedent). A
    * known-committed id makes the append a PURE NO-OP — the single
    * sigs table needs no root heal, so nothing is read at all; a
    * known-new id commits directly, skipping the O(index) dedupe
    * anti-join. Id-less appends keep the anti-join fallback. */
  def addToSigIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, batch: DataFrame, key: String,
      batchId: Option[Long] = None,
      beforePublish: () => Unit = () => (),
      writer: String = ""): Unit = {
    import graft.land.AtomicLanding
    val sigsT = s"$indexPath/sigs"
    if (batchId.exists(b =>
        AtomicLanding.lastBatchId(sigsT, writer).exists(_ >= b)))
      return // known-committed replay: data + id durable in one swing
    val delta = (batchId.filter(_ =>
        AtomicLanding.lastBatchId(sigsT, writer).isDefined) match {
      case Some(_) =>
        // identified and known-new: monotone ids mean nothing of this
        // batch is in the index — skip the O(index) scan. Only sound
        // when a watermark exists; after id-less growth the first
        // identified append pays the scan once (see Ivf.addToSavedIndex)
        sigTable(batch, key, "key_corpus")
      case _ =>
        dedupeSigScans.incrementAndGet()
        val existing = AtomicLanding.read(spark, sigsT)
          .select(col("key_corpus"), col("sig_h"))
        sigTable(batch, key, "key_corpus")
          .join(existing, Seq("key_corpus", "sig_h"), "left_anti")
    }).select(col("key_corpus"), col("sig_h")).persist()
    // an identified batch with an empty fallback delta still records
    // its id (O(metadata) empty append), making the watermark durable
    try if (!delta.isEmpty || batchId.isDefined) {
      AtomicLanding.commit(delta, sigsT, append = true,
        beforePublish = beforePublish, batchId = batchId,
        writer = writer); ()
    } finally delta.unpersist()
  }

  /** O(index) dedupe scans taken by id-less [[addToSigIndex]] appends —
    * the proof seam that an identified batch never pays the live-sigs
    * anti-join. */
  private[ext] val dedupeSigScans =
    new java.util.concurrent.atomic.AtomicLong

  /** Long-SESSION sig-index maintenance ([[Retrieval.maintainIndex]]'s
    * simpler sibling — no derived state here): fold the small-dir
    * micro-batch tail (body dirs above `smallBytes` never rewrite;
    * concurrent appends ride the compaction rebase) and vacuum
    * superseded generations. One maintainer at a time; concurrent
    * probes/appends are safe. Returns reclaimed paths. */
  def maintainSigIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, smallBytes: Long = 64L * 1024 * 1024,
      reservationGraceMs: Long = 600000L): Seq[String] = {
    import graft.land.AtomicLanding
    val sigsT = s"$indexPath/sigs"
    try AtomicLanding.compactSmall(spark, sigsT, smallBytes)
    catch { case _: java.util.ConcurrentModificationException => () }
    AtomicLanding.vacuum(sigsT, futureGraceMs = reservationGraceMs)
  }

  /** [[againstCorpusEd1]] against a [[buildSigIndex]] index: same
    * output contract, same bits, no corpus scan. */
  def againstIndexEd1(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, batch: DataFrame, key: String,
      broadcastBatch: Boolean = true): DataFrame = {
    val cs = graft.land.AtomicLanding.read(spark, s"$indexPath/sigs")
    val bs = sigTable(batch, key, "key_new")
    val candidates =
      if (broadcastBatch) broadcast(bs).join(cs, Seq("sig_h"))
      else bs.join(cs.hint("merge"), Seq("sig_h"))
    verified(candidates, "key_new", "key_corpus")
  }

  /** End-to-end entity resolution: ed ≤ 1 pair graph over `keyCol` —
    * INCLUDING ed = 0 (entities sharing an identical key merge, via
    * per-key star edges) —
    * connected components (driver union-find under
    * [[ConnectedComponents.components]]' edge bound, distributed
    * star-contraction above it — `localSolveMax` passes through), and a
    * singleton-preserving labeling. Output one row per input entity:
    * (`idCol`, `keyCol`, `component`) where component = the minimum id
    * reachable through the pair graph (its own id for singletons).
    * Shared by the gate row AND the scale probe so the measured
    * computation cannot drift from the gated one. */
  def entityComponents(df: DataFrame, keyCol: String, idCol: String,
      localSolveMax: Long = ConnectedComponents.LocalSolveMaxEdges): DataFrame = {
    val base = df.select(col(idCol), col(keyCol))
    val pairs = selfJoinEd1(base, keyCol)
      .join(base.select(col(keyCol).as("key_a"), col(idCol).as("doc_a")),
        "key_a")
      .join(base.select(col(keyCol).as("key_b"), col(idCol).as("doc_b")),
        "key_b")
      .select(col("doc_a"), col("doc_b"))
    // ed = 0 edges: selfJoinEd1 pairs DISTINCT key VALUES, so entities
    // sharing an IDENTICAL key (the most common real ER case) would
    // stay in separate singleton components without these. One STAR
    // edge per duplicate (id → the key group's min id) — linear in the
    // group, never the group's pair square, and a groupBy(min) keeps
    // map-side partial aggregation at any duplicate-class size
    val samePairs = base.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("doc_a"))
      .join(base.select(col(keyCol), col(idCol).as("doc_b")), keyCol)
      .where(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val comp = ConnectedComponents.components(
      pairs.unionAll(samePairs), localSolveMax = localSolveMax)
    base.join(comp, base(idCol) === comp("doc_id"), "left")
      .select(col(idCol), col(keyCol),
        coalesce(col("component"), col(idCol)).as("component"))
  }
}
