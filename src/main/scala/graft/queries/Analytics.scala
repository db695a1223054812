package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.ext.{Behavior, FuzzyJoin, PageRank}

/** Entity-resolution + behavioral + iterative-graph analytics tier:
  * fuzzy (edit-distance) similarity join, ordered conversion funnel,
  * cohort retention, and fixed-point PageRank — each value-gated against
  * a DuckDB oracle that replays the exact algorithm (the PageRank oracle
  * unrolls the integer-arithmetic iteration as CTEs, so even the
  * iterative path is hash-compared, not rows-only). */
object Analytics {

  type Q = (SparkSession, String) => DataFrame

  /** 60 DISTINCT chars (no lowercase 'm'): the q_fuzzy_ed2_auto_lossless
    * planted-core constant, duplicated literally in its oracle SQL.
    * Distinctness matters — a repeated substring could put two 'mm'
    * insertion positions within ed 2 of each other and break the
    * pairwise-ed-4 construction the lossless gate relies on. */
  private[graft] val LosslessCore =
    "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklnopqrstuvwxy"

  val queries: Map[String, Q] = Map(

    // ---- edit-distance similarity self-join over customer names:
    // deletion-neighborhood signatures -> equi-join on sig hash ->
    // levenshtein verification; never the O(n²) cross join the oracle
    // brute-forces at fixture scale ----
    "q_fuzzy_join" -> ((s, dir) =>
      FuzzyJoin.selfJoinEd1(t(s, dir, "customer"), "c_name")
        .select(col("key_a").as("name_a"), col("key_b").as("name_b"))
        .orderBy(col("name_a"), col("name_b"))),

    // ---- edit distance <= 2 (two typos — the real ER distance):
    // same candidates-then-verify, over the <=2-deletion neighborhood.
    // Deletion signatures carry the full residual string, so the
    // shared "Customer#" prefix does NOT collapse buckets the way
    // PassJoin partition segments would (FuzzyJoinSpec asserts the
    // bucket bound); the oracle brute-forces the quadratic check ----
    "q_fuzzy_join_ed2" -> ((s, dir) =>
      FuzzyJoin.selfJoinEdK(t(s, dir, "customer"), "c_name", k = 2)
        .select(col("key_a").as("name_a"), col("key_b").as("name_b"))
        .orderBy(col("name_a"), col("name_b"))),

    // ---- the Auto valve's LOSSLESS ENGAGED regime under the gate: a
    // deterministic corpus whose one hot signature bucket groups keys
    // at pairwise ed 4 (the same 'mm' pair inserted at 20 DIFFERENT
    // positions of a 60-distinct-char core — all equal after deleting
    // it, none within ed 2), floating on 400 sparse hash keys. The
    // census engages and drops that bucket (FuzzyJoinSpec asserts
    // engagement + emptiness of valveLoss), and because every true
    // pair keeps a sub-cap shared signature the capped output must
    // STILL equal the brute-force ed<=2 oracle — an engaged-Auto run
    // gated at full exactness, which is precisely the lossless
    // regime's contract ----
    "q_fuzzy_ed2_auto_lossless" -> ((s, dir) => {
      import s.implicits._
      val sparse = s.range(1, 401).select(
        concat(lit("K#"),
          substring(md5(col("id").cast("string")), 1, 9)).as("name"))
      val planted = (0 until 60 by 3)
        .map(p => LosslessCore.substring(0, p) + "mm" + LosslessCore.substring(p))
        .toDF("name")
      FuzzyJoin.selfJoinEdK(sparse.unionByName(planted), "name", k = 2,
          FuzzyJoin.Valve.Auto())
        .select(col("key_a").as("name_a"), col("key_b").as("name_b"))
        .orderBy(col("name_a"), col("name_b"))
    }),

    // ---- incremental fuzzy join: a simulated new batch (custkey % 10
    // = 0) matched against the remaining corpus — candidates from
    // corpus-sig x batch-sig, cost scales with the batch, exact ed=0
    // matches included ----
    "q_fuzzy_incremental" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      FuzzyJoin.againstCorpusEd1(
          c.where(col("c_custkey") % 10 === 0),
          c.where(col("c_custkey") % 10 =!= 0), "c_name")
        .select(col("key_new").as("name_new"),
          col("key_corpus").as("name_corpus"))
        .orderBy(col("name_new"), col("name_corpus"))
    }),

    // ---- the same batch-vs-corpus match through a PERSISTED signature
    // index (spooled: built once, no corpus scan per batch); must
    // reproduce the inline path's bits exactly, so its oracle IS
    // q_fuzzy_incremental's ----
    "q_fuzzy_indexed" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val idx = Spool.once(s"fuzzyIdx#$dir") {
        val d = Spool.dir("graft-fuzzyidx") + "/idx"
        FuzzyJoin.buildSigIndex(
          c.where(col("c_custkey") % 10 =!= 0), "c_name", d)
      }
      FuzzyJoin.againstIndexEd1(s, idx,
          c.where(col("c_custkey") % 10 === 0), "c_name")
        .select(col("key_new").as("name_new"),
          col("key_corpus").as("name_corpus"))
        .orderBy(col("name_new"), col("name_corpus"))
    }),

    // ---- the same match again, through an index built on HALF the
    // corpus and GROWN with the other half via addToSigIndex — the
    // index-maintenance path under a value gate: the grown index must
    // reproduce the inline (and the statically-indexed) bits exactly,
    // so its oracle too IS q_fuzzy_incremental's ----
    "q_fuzzy_grown" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val corpus = c.where(col("c_custkey") % 10 =!= 0)
      val idx = Spool.once(s"fuzzyIdx#$dir#grown") {
        val d = Spool.dir("graft-fuzzygrown") + "/idx"
        FuzzyJoin.buildSigIndex(
          corpus.where(col("c_custkey") % 2 === 1), "c_name", d,
          batchId = Some(0L)) // seed watermark vouches the build half
        // identified batch: the batch-id fast path (no dedupe scan of
        // the live sigs) must still produce the incremental bits
        FuzzyJoin.addToSigIndex(s, d,
          corpus.where(col("c_custkey") % 2 === 0), "c_name",
          batchId = Some(1L))
        d
      }
      FuzzyJoin.againstIndexEd1(s, idx,
          c.where(col("c_custkey") % 10 === 0), "c_name")
        .select(col("key_new").as("name_new"),
          col("key_corpus").as("name_corpus"))
        .orderBy(col("name_new"), col("name_corpus"))
    }),

    // ---- STREAMING ingest into the fuzzy signature index — the ER-side
    // cell of the engine-wide lifecycle matrix (every persisted index
    // builds, appends, STREAMS, maintains, probes): a file-source stream
    // drains half the corpus in micro-batches, each foreachBatch body
    // running addToSigIndex with the engine's micro-batch id (known-
    // committed replays are pure no-ops — the single sigs table needs no
    // root heal), probe after the drain. Signature derivation is
    // per-row-deterministic, so the streamed index reproduces the inline
    // incremental bits exactly and q_fuzzy_incremental's oracle gates
    // the whole streaming lifecycle ----
    "q_stream_fuzzy_ingest" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val corpus = c.where(col("c_custkey") % 10 =!= 0)
      val idx = Spool.once(s"fuzzyIdx#$dir#stream") {
        val root = Spool.dir("graft-fuzzystream")
        val d = s"$root/idx"
        FuzzyJoin.buildSigIndex(
          corpus.where(col("c_custkey") % 2 === 1), "c_name", d,
          batchId = Some(-1L)) // seed below the engine's first id (0)
        LlmPipeline.drainStream(s, root,
          corpus.where(col("c_custkey") % 2 === 0)
            .select(col("c_custkey"), col("c_name")),
          (df, b) => FuzzyJoin.addToSigIndex(s, d, df, "c_name",
            batchId = Some(b)))
        d
      }
      FuzzyJoin.againstIndexEd1(s, idx,
          c.where(col("c_custkey") % 10 === 0), "c_name")
        .select(col("key_new").as("name_new"),
          col("key_corpus").as("name_corpus"))
        .orderBy(col("name_new"), col("name_corpus"))
    }),

    // ---- CMS join-size estimation: "will this join explode?" answered
    // from two one-pass d×w sketches (row-wise inner product, min over
    // rows — never an undercount); the row carries the exact sizes so
    // the upper-bound contract is value-gated, and the estimate itself
    // is deterministic (fixed hash family) so it hash-gates too ----
    "q_cms_join_size" -> ((s, dir) => {
      import s.implicits._
      val (d, w) = (4, 256)
      val ev = t(s, dir, "events")
        .select(col("user_id").cast("string").as("term"), lit(1L).as("cnt"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").cast("string").as("term"), lit(1L).as("cnt"))
      // one sketch per stream, reused across both estimates
      val evCells = graft.ext.CountMin.sketchCells(ev, d, w)
      val custCells = graft.ext.CountMin.sketchCells(cust, d, w)
      val estCross = graft.ext.CountMin.joinSizeEstimateCells(evCells, custCells, d, w)
      val estSelf = graft.ext.CountMin.joinSizeEstimateCells(evCells, evCells, d, w)
      val evCounts = ev.groupBy(col("term")).agg(sum(col("cnt")).as("c"))
      val custCounts = cust.groupBy(col("term")).agg(sum(col("cnt")).as("c"))
      // coalesce: an empty key intersection must read as size 0, not NPE
      val exactCross = evCounts.as("a")
        .join(custCounts.as("b"), Seq("term"))
        .agg(coalesce(sum(col("a.c") * col("b.c")), lit(0L)))
        .head().getLong(0)
      val exactSelf = evCounts
        .agg(coalesce(sum(col("c") * col("c")), lit(0L))).head().getLong(0)
      Seq((estCross, exactCross, estSelf, exactSelf))
        .toDF("est_cross", "exact_cross", "est_self", "exact_self")
    }),

    // ---- end-to-end entity resolution: fuzzy ed<=1 pairs -> connected
    // components (driver union-find under the 1M-edge bound,
    // star-contraction above it) -> one row per entity with size +
    // canonical (min) name; singletons kept via the left join. The
    // oracle replays the closure with a recursive CTE, so the
    // COMPOSITION is value-gated ----
    "q_entity_resolution" -> ((s, dir) =>
      FuzzyJoin.entityComponents(
          t(s, dir, "customer"), keyCol = "c_name", idCol = "c_custkey")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"), min(col("c_name")).as("canonical"))
        .orderBy(col("component"))),

    // ---- the STRUCTURED entity-resolution gate: the dense zero-padded
    // name space above collapses to one giant component (every name is
    // one digit from a neighbor), so that row value-gates the
    // composition through a single output row. This variant derives a
    // key that produces real component STRUCTURE — a sparsified name
    // subset (custkey % 3 = 0 keeps unique names whose digit graph
    // fragments into many components plus singletons) and five
    // exact-duplicate classes ('DUP-' + mktsegment, most of the
    // rows) merged purely by the ed=0 same-key star edges, plus a
    // 'SOLO-'-prefixed slice whose keys are (near-)unique so the
    // singleton left-join coalesce fires — so multi-component labeling,
    // duplicate-key merging, and singleton coalescing are all
    // hash-compared ----
    "q_entity_dedup" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"),
        when(col("c_custkey") % 11 === 5,
            concat(lit("SOLO-"), col("c_name")))
          .when(col("c_custkey") % 3 === 0, col("c_name"))
          .otherwise(concat(lit("DUP-"), col("c_mktsegment"))).as("ekey"))
      FuzzyJoin.entityComponents(c, keyCol = "ekey", idCol = "c_custkey")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"), min(col("ekey")).as("canonical"))
        .orderBy(col("component"))
    }),

    // ---- strictly-ordered conversion funnel: first view -> first
    // later click -> first later purchase; min-timestamp stages
    // co-partitioned on user_id, no whole-log window sort ----
    "q_funnel" -> ((s, dir) =>
      Behavior.funnel(t(s, dir, "events"), Seq("view", "click", "purchase"))
        .orderBy(col("stage"))),

    // ---- day-grain cohort retention triangle ----
    "q_retention" -> ((s, dir) =>
      Behavior.retention(t(s, dir, "events"))
        .orderBy(col("cohort_day"), col("day_offset"))),

    // ---- robust outlier screen: per-event-type MAD fences; median and
    // MAD are exact discrete quantiles, so the row is hash-gated ----
    "q_outliers" -> ((s, dir) =>
      graft.operators.Outliers.madOutliers(
          t(s, dir, "events"), "value", Seq("event_type"), k = 3.0)
        .orderBy(col("event_type"))),

    // ---- 5-iteration fixed-point PageRank over the supplier->customer
    // shipment graph. Customer nodes live in NEGATIVE id space
    // (-1 - o_custkey): disjoint from the non-negative supplier keys at
    // EVERY data scale, where an additive offset would silently fuse the
    // two node populations once shifted supplier keys outgrew it.
    // Integer-scaled arithmetic makes the iterative result bit-exact
    // cross-engine ----
    "q_pagerank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val edges = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (lit(-1L) - col("o_custkey")).as("dst"))
      PageRank.ranks(s, edges, iters = 5).orderBy(col("node"))
    }),

    // ---- the delta-zero EARLY EXIT under the gate: a 25-round budget
    // on the same bipartite graph must stop at round 3, structurally —
    // suppliers have no in-edges, so their ranks pin to the base term
    // from round 1 on; customer ranks, functions of supplier ranks
    // only, repeat from round 2 on; round 3 detects the fixed point at
    // ANY scale factor. n_rounds = 3 is therefore an oracle-pinnable
    // consequence of the graph shape (a broken exit runs all 25 and
    // hash-fails the column), and the converged ranks equal the
    // 5-round unroll bit-for-bit (identity past the fixed point) ----
    "q_pagerank_converged" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val edges = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (lit(-1L) - col("o_custkey")).as("dst"))
      val (ranks, rounds) = PageRank.ranksWithRounds(s, edges, maxIters = 25)
      ranks.withColumn("n_rounds", lit(rounds.toLong)).orderBy(col("node"))
    })
  )

  private val Scale = "1000000000000"

  private val FuzzyIncrementalOracle: String =
    """SELECT a.c_name AS name_new, b.c_name AS name_corpus
      |FROM customer a JOIN customer b
      |  ON a.c_custkey % 10 = 0 AND b.c_custkey % 10 <> 0
      |WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
      |  AND levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY name_new, name_corpus""".stripMargin

  /** One CTE pair per PageRank round: contributions (rank div outdeg
    * summed by destination) then the damped update — the byte-for-byte
    * SQL image of [[graft.ext.PageRank.ranks]]'s loop body. Sums cast
    * back to bigint (DuckDB widens sum(bigint) to hugeint, which would
    * reach pandas as a float and trip the dtype gate). */
  private def pageRankRound(i: Int): String =
    s"""s$i AS (SELECT e.dst AS node,
       |    cast(sum(r${i - 1}.rank // deg.outdeg) AS bigint) AS inc
       |  FROM e JOIN deg ON e.src = deg.src
       |  JOIN r${i - 1} ON r${i - 1}.node = e.src GROUP BY 1),
       |r$i AS (SELECT nodes.node,
       |    (SELECT (15 * ($Scale // n)) // 100 FROM nn)
       |      + (85 * coalesce(s$i.inc, 0)) // 100 AS rank
       |  FROM nodes LEFT JOIN s$i ON s$i.node = nodes.node)""".stripMargin

  val oracles: Map[String, String] = Map(

    "q_fuzzy_join" ->
      """SELECT a.c_name AS name_a, b.c_name AS name_b
        |FROM (SELECT DISTINCT c_name FROM customer) a
        |JOIN (SELECT DISTINCT c_name FROM customer) b ON a.c_name < b.c_name
        |WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY name_a, name_b""".stripMargin,

    "q_fuzzy_join_ed2" ->
      """SELECT a.c_name AS name_a, b.c_name AS name_b
        |FROM (SELECT DISTINCT c_name FROM customer) a
        |JOIN (SELECT DISTINCT c_name FROM customer) b ON a.c_name < b.c_name
        |WHERE abs(length(a.c_name) - length(b.c_name)) <= 2
        |  AND levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin,

    // the engaged-Auto lossless gate brute-forces the SAME deterministic
    // corpus: 400 md5-hash keys + the 'mm'-insertion hot bucket
    "q_fuzzy_ed2_auto_lossless" ->
      (s"""WITH core AS (SELECT '$LosslessCore' AS c),
        |k AS (
        |  SELECT 'K#' || substr(md5(cast(i as varchar)), 1, 9) AS name
        |  FROM range(1, 401) t(i)
        |  UNION ALL
        |  SELECT substr(c, 1, cast(p as int)) || 'mm' ||
        |         substr(c, cast(p as int) + 1) AS name
        |  FROM core, range(0, 60, 3) t(p)),
        |d AS (SELECT DISTINCT name FROM k)
        |SELECT a.name AS name_a, b.name AS name_b
        |FROM d a JOIN d b ON a.name < b.name
        |WHERE abs(length(a.name) - length(b.name)) <= 2
        |  AND levenshtein(a.name, b.name) <= 2
        |ORDER BY name_a, name_b""").stripMargin,

    // p = fuzzy ed<=1 pairs PLUS ed=0 same-key pairs (the engine's
    // per-key star edges; all-pairs here because the oracle may
    // brute-force) — no-op on the unique-name fixture, load-bearing in
    // the q_entity_dedup variant below
    "q_entity_resolution" ->
      """WITH RECURSIVE p AS (
        |  SELECT a.c_custkey ka, b.c_custkey kb
        |  FROM customer a JOIN customer b
        |    ON (a.c_name < b.c_name
        |        OR (a.c_name = b.c_name AND a.c_custkey < b.c_custkey))
        |  WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
        |    AND levenshtein(a.c_name, b.c_name) <= 1),
        |ed AS (SELECT ka a, kb b FROM p UNION SELECT kb, ka FROM p),
        |rch AS (SELECT a, b FROM ed
        |        UNION
        |        SELECT r.a, e.b FROM rch r JOIN ed e ON r.b = e.a AND r.a <> e.b),
        |comp AS (SELECT v.a AS k, least(v.a, min(r.b)) AS component
        |         FROM (SELECT DISTINCT a FROM ed) v JOIN rch r ON r.a = v.a
        |         GROUP BY v.a),
        |allc AS (SELECT c.c_name,
        |           coalesce(comp.component, c.c_custkey) component
        |         FROM customer c LEFT JOIN comp ON comp.k = c.c_custkey)
        |SELECT component, count(*) AS n_members, min(c_name) AS canonical
        |FROM allc GROUP BY 1 ORDER BY component""".stripMargin,

    // the derived-key replay of the entity-resolution closure: same
    // recursive shape, over the sparsified-name + duplicate-class key
    "q_entity_dedup" ->
      """WITH RECURSIVE k AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 11 = 5 THEN 'SOLO-' || c_name
        |         WHEN c_custkey % 3 = 0 THEN c_name
        |         ELSE 'DUP-' || c_mktsegment END AS ekey
        |  FROM customer),
        |p AS (
        |  SELECT a.c_custkey ka, b.c_custkey kb
        |  FROM k a JOIN k b
        |    ON (a.ekey < b.ekey
        |        OR (a.ekey = b.ekey AND a.c_custkey < b.c_custkey))
        |  WHERE abs(length(a.ekey) - length(b.ekey)) <= 1
        |    AND levenshtein(a.ekey, b.ekey) <= 1),
        |ed AS (SELECT ka a, kb b FROM p UNION SELECT kb, ka FROM p),
        |rch AS (SELECT a, b FROM ed
        |        UNION
        |        SELECT r.a, e.b FROM rch r JOIN ed e ON r.b = e.a AND r.a <> e.b),
        |comp AS (SELECT v.a AS k, least(v.a, min(r.b)) AS component
        |         FROM (SELECT DISTINCT a FROM ed) v JOIN rch r ON r.a = v.a
        |         GROUP BY v.a),
        |allc AS (SELECT kk.ekey,
        |           coalesce(comp.component, kk.c_custkey) component
        |         FROM k kk LEFT JOIN comp ON comp.k = kk.c_custkey)
        |SELECT component, count(*) AS n_members, min(ekey) AS canonical
        |FROM allc GROUP BY 1 ORDER BY component""".stripMargin,

    "q_fuzzy_incremental" -> FuzzyIncrementalOracle,
    // the indexed path must reproduce the inline path's bits exactly —
    // aliased, not copied, so they cannot drift (the q_bm25_indexed
    // precedent)
    "q_fuzzy_indexed" -> FuzzyIncrementalOracle,
    // ... and so must the built-then-GROWN index
    "q_fuzzy_grown" -> FuzzyIncrementalOracle,
    // ... and the STREAMED one (micro-batch growth ≡ ACID growth ≡
    // one-shot build: per-row-deterministic signatures)
    "q_stream_fuzzy_ingest" -> FuzzyIncrementalOracle,

    // sparse replay of BOTH d=4 x w=256 sketches with the engine's
    // hash60 + Kirsch-Mitzenmacher bucket mix (the q_cms oracle shape),
    // then row-wise inner products joined on (row, bucket). The min runs
    // over a range(d) SPINE with the product left-joined and coalesced
    // to 0 — a row whose buckets never co-occupy (disjoint key sets)
    // must contribute its true 0 product to the min, exactly as the
    // Spark estimator's dense arrays do
    "q_cms_join_size" ->
      """WITH ev AS (SELECT cast(user_id AS varchar) term,
        |    cast(count(*) AS bigint) c FROM events GROUP BY 1),
        |cu AS (SELECT cast(c_custkey AS varchar) term,
        |    cast(count(*) AS bigint) c FROM customer GROUP BY 1),
        |evb AS (SELECT r.i,
        |    cast((h % 1073741824 + r.i * (h // 1073741824)) % 256 AS bigint) b,
        |    cast(sum(c) AS bigint) s
        |  FROM (SELECT term, c,
        |          cast('0x' || substr(md5(term), 1, 15) AS bigint) h FROM ev)
        |  CROSS JOIN range(4) r(i) GROUP BY 1, 2),
        |cub AS (SELECT r.i,
        |    cast((h % 1073741824 + r.i * (h // 1073741824)) % 256 AS bigint) b,
        |    cast(sum(c) AS bigint) s
        |  FROM (SELECT term, c,
        |          cast('0x' || substr(md5(term), 1, 15) AS bigint) h FROM cu)
        |  CROSS JOIN range(4) r(i) GROUP BY 1, 2),
        |ce AS (SELECT cast(min(coalesce(p.s, 0)) AS bigint) v
        |  FROM range(4) rr(i) LEFT JOIN (
        |    SELECT evb.i, cast(sum(evb.s * cub.s) AS bigint) s FROM evb
        |    JOIN cub ON evb.i = cub.i AND evb.b = cub.b GROUP BY 1) p
        |  ON p.i = rr.i),
        |se AS (SELECT cast(min(coalesce(p.s, 0)) AS bigint) v
        |  FROM range(4) rr(i) LEFT JOIN (
        |    SELECT i, cast(sum(s * s) AS bigint) s FROM evb GROUP BY 1) p
        |  ON p.i = rr.i),
        |cx AS (SELECT cast(coalesce(sum(ev.c * cu.c), 0) AS bigint) v
        |  FROM ev JOIN cu USING (term)),
        |sx AS (SELECT cast(coalesce(sum(c * c), 0) AS bigint) v FROM ev)
        |SELECT ce.v AS est_cross, cx.v AS exact_cross,
        |       se.v AS est_self, sx.v AS exact_self
        |FROM ce, cx, se, sx""".stripMargin,

    "q_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
        |SELECT '01_view' AS stage, count(*) AS users FROM v
        |UNION ALL SELECT '02_click' AS stage, count(*) AS users FROM c
        |UNION ALL SELECT '03_purchase' AS stage, count(*) AS users FROM p
        |ORDER BY stage""".stripMargin,

    "q_retention" ->
      """WITH f AS (SELECT user_id, cast(min(ts) AS date) AS cohort_day
        |  FROM events GROUP BY 1)
        |SELECT f.cohort_day,
        |  date_diff('day', f.cohort_day, cast(e.ts AS date)) AS day_offset,
        |  count(DISTINCT e.user_id) AS users
        |FROM events e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,

    "q_outliers" ->
      """WITH med AS (
        |  SELECT event_type, value AS med FROM (
        |    SELECT event_type, value,
        |      row_number() OVER (PARTITION BY event_type ORDER BY value) rn,
        |      count(*) OVER (PARTITION BY event_type) n
        |    FROM events WHERE value IS NOT NULL)
        |  WHERE rn = greatest(cast(ceil(cast(0.5 as double) * n) as bigint), 1)),
        |dev AS (
        |  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS d
        |  FROM events e JOIN med m USING (event_type)
        |  WHERE e.value IS NOT NULL),
        |mad AS (
        |  SELECT event_type, d AS mad FROM (
        |    SELECT event_type, d,
        |      row_number() OVER (PARTITION BY event_type ORDER BY d) rn,
        |      count(*) OVER (PARTITION BY event_type) n
        |    FROM dev)
        |  WHERE rn = greatest(cast(ceil(cast(0.5 as double) * n) as bigint), 1))
        |SELECT dev.event_type, dev.med, mad.mad, count(*) AS n,
        |  cast(sum(CASE WHEN dev.d > cast(3 as double) * mad.mad
        |                THEN 1 ELSE 0 END) AS bigint) AS n_outliers
        |FROM dev JOIN mad USING (event_type)
        |GROUP BY 1, 2, 3 ORDER BY event_type""".stripMargin,

    "q_pagerank" ->
      s"""WITH e AS (SELECT DISTINCT l_suppkey AS src,
         |    -1 - o_custkey AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |r0 AS (SELECT node, (SELECT $Scale // n FROM nn) AS rank FROM nodes),
         |${(1 to 5).map(pageRankRound).mkString(",\n")}
         |SELECT node, rank FROM r5 ORDER BY node""".stripMargin,

    // converged == the 5-round unroll (identity past the fixed point);
    // n_rounds pinned 3 by the bipartite structure (see the query's
    // comment) — a loop that fails to exit hash-fails the column
    "q_pagerank_converged" ->
      s"""WITH e AS (SELECT DISTINCT l_suppkey AS src,
         |    -1 - o_custkey AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |r0 AS (SELECT node, (SELECT $Scale // n FROM nn) AS rank FROM nodes),
         |${(1 to 5).map(pageRankRound).mkString(",\n")}
         |SELECT node, rank, cast(3 as bigint) AS n_rounds
         |FROM r5 ORDER BY node""".stripMargin
  )
}
