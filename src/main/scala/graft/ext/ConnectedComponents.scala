package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over the verified near-dup pair
  * graph — the clustering policy that makes near-dup removal transitive:
  * a ~ b and b ~ c puts a, b, c in ONE cluster even when a ~ c itself is
  * below threshold (the greedy drop-the-higher-id rule in [[Curation]]
  * can keep two docs that are linked only through a dropped middleman).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — converges
  * in O(log^2 n) rounds on any graph, each round expressed as
  * join + groupBy-min, so neighborhoods are never materialized as arrays
  * (a collect_set per node would melt on the hot root of a 100 M-doc
  * dup cluster; a groupBy(min) has map-side partial aggregation).
  *
  * The per-round convergence probe collects a single (count, checksum)
  * row — the standard driver-side loop control of iterative graph jobs,
  * same O(1) driver traffic as the k-means loop in [[Ivf]].
  */
object ConnectedComponents {

  /** The driver-solve edge bound shared by every iterative graph job
    * with a driver regime ([[components]], [[PageRank]] and their
    * callers): graphs with at most this many distinct edges are
    * collected and solved on the driver (~16 B/edge, so ~16 MB here). */
  val LocalSolveMaxEdges: Long = 1000000L

  /** One large-star round: every node u connects its LARGER neighbors to
    * the minimum of its neighborhood (incl. itself). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u"))
      .agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** One small-star round: every node u connects its smaller-or-equal
    * neighbors (and itself) to the minimum among them. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val dir = edges.select(
      greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    val mins = dir.groupBy(col("u"))
      .agg(min(col("v")).as("m")) // v < u always, so min(Γ⁻ ∪ {u}) = min(Γ⁻)
    dir.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .unionAll(mins.filter(col("u") =!= col("m"))
        .select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** Driver union-find with path compression; roots are component
    * minima (union attaches the larger root under the smaller). Used
    * only below [[components]]' `localSolveMax` edge bound. */
  private[ext] def unionFind(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** (doc_id, component) for every vertex of `pairs` (undirected edges
    * doc_a — doc_b); component = the minimum doc_id reachable from it.
    * Vertices not present in any pair are the caller's to add (they are
    * their own singleton components by definition).
    *
    * Graphs at or below `localSolveMax` edges (checked at runtime after
    * dedup) are solved with a driver union-find — bounded memory
    * (16 B/edge ⇒ ~16 MB at the default; raised from 100k after the
    * entity-resolution row's 195k-edge graph paid several distributed
    * rounds for a problem the driver solves in milliseconds), exact,
    * and free of the
    * per-round fixed cost that dominates iterative jobs on small
    * graphs; anything larger runs the distributed star-contraction
    * loop. Near-dup pair graphs are usually tiny relative to the corpus
    * (only verified duplicate edges), so at 100 TB both paths matter:
    * the small one for per-shard clustering, the distributed one for
    * corpus-wide graphs. Pass `localSolveMax = 0` to force the
    * distributed path. */
  def components(pairs: DataFrame, maxRounds: Int = 50,
      localSolveMax: Long = LocalSolveMaxEdges): DataFrame =
    componentsWithRounds(pairs, maxRounds, localSolveMax)._1

  /** [[components]] plus the number of distributed star-contraction
    * rounds executed (0 when the driver union-find fast path solved it)
    * — scale-curve telemetry: on bounded-component "entity-shaped"
    * graphs the round count must stay ~flat as the corpus grows, which
    * is the whole convergence argument. */
  def componentsWithRounds(pairs: DataFrame, maxRounds: Int = 50,
      localSolveMax: Long = LocalSolveMaxEdges): (DataFrame, Int) = {
    // each round is checkpointed: without truncating the lineage the
    // logical plan doubles per iteration (plan-explosion OOM long before
    // any data-size limit) — the standard iterative-DataFrame discipline,
    // same as GraphFrames' CC; on a cluster this would be
    // checkpoint-to-HDFS, locally the block-manager variant suffices
    var edges = pairs
      .select(col("doc_a").cast("long").as("u"), col("doc_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)

    if (edges.count() <= localSolveMax) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val mapping = unionFind(
        edges.as[(Long, Long)].collect())
      return (mapping.toSeq.toDF("doc_id", "component"), 0)
    }

    var last = (-1L, -1L)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // lazy checkpoint: the convergence agg below both materializes the
      // round's edge set and probes it — one job per round, not two
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val row = next.agg(
        count(lit(1)), coalesce(sum(hash(col("u"), col("v")).cast("long")), lit(0L)))
        .head()
      val sig = (row.getLong(0), row.getLong(1))
      edges = next
      converged = sig == last
      last = sig
      round += 1
    }
    // a silent non-fixed-point would hand callers wrong (non-minimal)
    // component roots — refuse rather than return garbage
    require(converged,
      s"connected components did not converge in $maxRounds rounds; " +
        "raise maxRounds (star contraction needs O(log n) rounds)")

    // at the fixed point every edge is (member, root) with root = min id
    (edges.select(col("u").as("doc_id"), col("v").as("component"))
      .unionAll(edges.select(col("v").as("doc_id"), col("v").as("component")))
      .distinct(), round)
  }
}
