package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an edge list — the iterative-graph
  * workload class (crawl-frontier prioritization, domain-authority
  * scoring for web-corpus curation) that no single declarative query
  * expresses: each round is one co-partitioned join + one aggregation,
  * driven by a bounded driver loop.
  *
  * Determinism contract: ranks are SCALED LONGS (fixed point, `scale`
  * units = probability 1.0) and every operation is integer (`div`,
  * `sum(long)`, `*`), so the result is bit-identical regardless of
  * partitioning or summation order — the same trick as the ANN tier's
  * integer-scaled dot products — and a SQL oracle can replay the exact
  * iteration unrolled as CTEs. Formula per round (damping 0.85):
  * rank' = (15·(scale div n)) div 100 + (85·Σ_in (rank div outdeg)) div 100.
  * Dangling mass (nodes with no out-edges) is dropped, not
  * redistributed — the standard simplification, identical in the oracle.
  *
  * Two regimes, picked at runtime by one collect of at most the bound
  * plus one deduplicated `(src, dst)` edges:
  *  - at or below [[ConnectedComponents.LocalSolveMaxEdges]] edges (the
  *    bound connected components uses), those collected edges are the
  *    graph: the null contract below is checked on them and the
  *    recurrence runs on the driver over dense `Array[Long]`
  *    state. Driver memory is linear in the edge count: the collected
  *    pairs, one `2·edges` long array to find the sorted node ids, and
  *    two int index arrays, plus three long arrays per node (peak not
  *    measured at the bound). Small graphs are all per-round job cost
  *    on a cluster; here they cost milliseconds.
  *  - above it, one count checks the null contract and the
  *    distributed loop below runs.
  * Integer arithmetic makes the two regimes bit-identical by
  * construction, round count included.
  *
  * Null contract: an edge with a null `src` or `dst` (after the cast to
  * long) fails the call with an `IllegalArgumentException` in either
  * regime. It is neither dropped nor given a phantom node.
  *
  * Distributed shape per iteration: the adjacency (edges ⋈ out-degree) is
  * materialized ONCE, pre-partitioned by `src` and persisted DISK_ONLY —
  * edge sets are corpus-sized, so parking them in executor heap would
  * evict everything else (measured: an in-memory checkpoint of the 60M-
  * edge 100× graph OOM'd an 8g driver; the disk-persisted run holds the
  * heap for the |nodes|-sized state instead). Each round scans the
  * persisted adjacency, joins the rank table (|nodes| rows — broadcast
  * at realistic node/edge ratios, shuffle-on-src otherwise), and
  * aggregates contributions map-side-combined by `dst`. Only the rank
  * table is materialized per round (small; one local checkpoint, which
  * also truncates lineage so iteration count, not plan depth, is the
  * loop's budget — same pattern as [[ConnectedComponents]]'s rounds;
  * each superseded round is unpersisted once its successor exists);
  * on return the adjacency is unpersisted and the caller holds the
  * final round's checkpoint.
  */
object PageRank {

  /** (node, rank) for every node appearing in `edges` (columns src, dst;
    * duplicates tolerated), after AT MOST `iters` rounds at fixed-point
    * `scale`. Output unordered — callers sort by node.
    *
    * EARLY TERMINATION: integer fixed-point arithmetic reaches an EXACT
    * fixed point (no epsilon tuning — ranks stop changing at all, which
    * floats never guarantee), and once a round changes nothing every
    * further round is the identity, so the loop exits there with output
    * bit-identical to the full `iters` unroll — `q_pagerank`'s
    * 5-round oracle stays hash-green over the early-exiting loop by
    * construction. The probe is a changed-rows count over the round's
    * |nodes|-sized table (state-sized, never edge-sized) — at 100× graph
    * scale it is noise against the round's adjacency scan, and the
    * rounds it saves are whole edge passes. */
  def ranks(spark: SparkSession, edges: DataFrame, iters: Int,
            scale: Long = 1000000000000L): DataFrame =
    ranksWithRounds(spark, edges, iters, scale)._1

  /** [[ranks]] plus the number of rounds actually executed (the
    * converged-contract form: `rounds < maxIters` is the proof the
    * delta-zero exit engaged; `rounds == maxIters` means the budget,
    * not the fixed point, ended the loop). */
  def ranksWithRounds(spark: SparkSession, edges: DataFrame, maxIters: Int,
            scale: Long = 1000000000000L): (DataFrame, Int) =
    ranksWithRounds(spark, edges, maxIters, scale,
      ConnectedComponents.LocalSolveMaxEdges)

  /** [[ranksWithRounds]] with the driver-solve edge bound explicit;
    * `localSolveMax = 0` forces the distributed loop. */
  private[ext] def ranksWithRounds(spark: SparkSession, edges: DataFrame,
      maxIters: Int, scale: Long, localSolveMax: Long): (DataFrame, Int) = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
    def requireNonNull(nNull: Long): Unit = require(nNull == 0L,
      s"PageRank edges need non-null src and dst: $nNull distinct edge(s) " +
        "have a null endpoint")
    // one action picks the regime: at most localSolveMax + 1 edges
    val head = e.limit(math.min(localSolveMax, Int.MaxValue - 1L).toInt + 1).collect()
    require(head.nonEmpty, "PageRank over an empty edge set")
    if (head.length <= localSolveMax) {
      requireNonNull(head.count(r => r.isNullAt(0) || r.isNullAt(1)).toLong)
      import spark.implicits._
      val (nodes, ranks, rounds) = solveLocal(
        head.map(r => (r.getLong(0), r.getLong(1))), maxIters, scale)
      return (nodes.indices.map(i => (nodes(i), ranks(i))).toDF("node", "rank"),
        rounds)
    }
    requireNonNull(e.where(col("src").isNull || col("dst").isNull).count())

    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // adjacency = edges ⋈ outdeg, built once, co-partitioned on src,
    // persisted to DISK (corpus-sized — heap is reserved for state)
    val esrc = e.join(deg, "src").repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      val nodes = esrc.select(col("src").as("node"))
        .union(esrc.select(col("dst").as("node")))
        .distinct()
        .localCheckpoint()
      val n = nodes.count() // bounded driver scalar: |nodes| for the base term
      val init = scale / n
      val base = (15L * init) / 100L

      var r = nodes.select(col("node"), lit(init).as("rank"))
      // per-round rank tables are locally checkpointed RDDs wrapped back
      // into DataFrames, not CacheManager persists: each round's plan
      // scans the previous table twice (the join and the carried
      // `_prank`), so over cached tables the plan nests every earlier
      // round twice and doubles in size per round (a 4g heap ran out by
      // round 10). The wrapped RDD is a plan leaf, so every round plans
      // the same; its checkpoint cuts the RDD lineage (and with it the
      // earlier rounds' shuffles) once materialized; and holding the RDD
      // lets each superseded round be unpersisted as soon as its
      // successor exists.
      var prev: Option[org.apache.spark.rdd.RDD[Row]] = None
      var rounds = 0
      var converged = false
      while (rounds < maxIters && !converged) {
        rounds += 1
        val contrib = esrc.join(r, esrc("src") === r("node"))
          .select(col("dst"), expr("rank div outdeg").as("c"))
        val inc = contrib.groupBy(col("dst")).agg(sum(col("c")).as("inc"))
        // ONE job per round (guide §1.2: don't compute things twice):
        // the new rank table is derived from the PREVIOUS round's table
        // (same node set as `nodes` — every round emits exactly one row
        // per node) and carries the old rank as `_prank`, so a single
        // changed-rows count both materializes this round's lazy
        // checkpoint AND answers the exact delta-zero probe.
        val next = r.select(col("node"), col("rank").as("_prank"))
          .join(inc, col("node") === inc("dst"), "left")
          .select(col("node"), col("_prank"),
            (lit(base) +
              expr("(85 * coalesce(inc, cast(0 as bigint))) div 100")).as("rank"))
        val rdd = next.rdd.localCheckpoint()
        val rNew = spark.createDataFrame(rdd, next.schema)
        converged = rNew.where(col("rank") =!= col("_prank")).count() == 0L
        prev.foreach(_.unpersist())
        prev = Some(rdd)
        r = rNew.select(col("node"), col("rank"))
      }
      // the caller holds the final round's checkpoint
      (r, rounds)
    } finally esrc.unpersist()
  }

  /** The driver regime: the same recurrence over dense `Array[Long]`
    * state indexed by sorted node id. Returns (nodes ascending, their
    * ranks, rounds executed). Integer `/` on non-negative longs is
    * Spark's `div`, so every round is bit-identical to the distributed
    * loop's, and so is the delta-zero exit. */
  private def solveLocal(edges: Array[(Long, Long)], maxIters: Int,
      scale: Long): (Array[Long], Array[Long], Int) = {
    // sorted unique endpoints over primitive longs (no boxed hash set)
    val ends = new Array[Long](2 * edges.length)
    var i = 0
    while (i < edges.length) {
      ends(2 * i) = edges(i)._1; ends(2 * i + 1) = edges(i)._2; i += 1
    }
    java.util.Arrays.sort(ends)
    var n = 0
    i = 0
    while (i < ends.length) {
      if (n == 0 || ends(i) != ends(n - 1)) { ends(n) = ends(i); n += 1 }
      i += 1
    }
    val nodes = java.util.Arrays.copyOf(ends, n)
    val src = edges.map(p => java.util.Arrays.binarySearch(nodes, p._1))
    val dst = edges.map(p => java.util.Arrays.binarySearch(nodes, p._2))
    val outdeg = new Array[Long](n)
    src.foreach(s => outdeg(s) += 1L)
    val init = scale / n
    val base = (15L * init) / 100L
    var rank = Array.fill(n)(init)
    var rounds = 0
    var converged = false
    while (rounds < maxIters && !converged) {
      rounds += 1
      val inc = new Array[Long](n)
      var k = 0
      while (k < src.length) { inc(dst(k)) += rank(src(k)) / outdeg(src(k)); k += 1 }
      val next = inc.map(c => base + (85L * c) / 100L)
      converged = java.util.Arrays.equals(next, rank)
      rank = next
    }
    (nodes, rank, rounds)
  }
}
