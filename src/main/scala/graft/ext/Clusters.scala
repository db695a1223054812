package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong

/** Incremental connected-components clustering — dup-cluster state that
  * GROWS with the corpus instead of being recomputed from scratch per
  * ingest batch.
  *
  * [[ConnectedComponents.components]] answers "cluster this pair graph"
  * as a one-shot job over ALL edges; at 100 TB the near-dup pipeline
  * never sees all edges at once — it sees a standing corpus plus an
  * arriving batch, whose new edges (batch×corpus from
  * [[Similarity.embedNearDupPairsAgainst]] / [[FuzzyJoin.againstIndexEd1]],
  * plus batch-internal pairs) must FOLD INTO the standing cluster
  * assignment. Re-running CC over the union edge set costs O(corpus)
  * per batch; [[extend]] costs O(batch) + one keyed pass over the
  * standing state, by the classic contraction argument:
  *
  *   components(E_old ∪ E_new)  ==  components(contract(E_new, A)) ∘ A
  *
  * where A is the standing assignment (labels = component-minimum ids,
  * exactly what [[ConnectedComponents]] emits) and `contract` maps each
  * new-edge endpoint to its standing root (unseen ids map to
  * themselves). Every old root is the min id of its members, so the CC
  * of the contracted graph — whose vertices are old roots and unseen
  * ids — relabels merged groups with the TRUE min over all underlying
  * members. The contracted graph is batch-sized, so the inner CC is
  * cheap regardless of corpus size.
  *
  * The persisted lifecycle ([[buildSaved]] → [[addToSaved]] →
  * [[maintainSaved]] → [[snapshot]]) mirrors the engine's index
  * contract (fuzzy sigs / BM25 / IVF / IVF-PQ): ACID commits through
  * [[graft.land.AtomicLanding]], identified batches (`batchId` recorded
  * atomically with the data; known-committed replays are pure no-ops),
  * O(changed-rows) appends — an append writes ONLY remapped standing
  * rows and new vertices, stamped with a generation the reader resolves
  * latest-wins — and a maintenance fold that compacts generations back
  * to one row per doc. Appends CAS on the state version
  * (`expectedVersion`), so two concurrent folders serialize instead of
  * publishing assignments derived from the same stale snapshot.
  */
object Clusters {

  /** Id-less-append dedupe probes are impossible here (an extend is not
    * idempotent row-wise), so unlike the indexes the only replay guard
    * is the batch id; this counter tracks CAS retries instead — the
    * spec proves a lost race recomputes rather than double-applies. */
  private[ext] val casRetries = new AtomicLong(0L)

  private def norm(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").cast("long").as("u"),
        col("doc_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))

  /** Only the rows an extend CHANGES: standing rows whose component is
    * remapped by the new edges, plus first-seen vertices — the
    * O(affected) write set of [[addToSaved]]. Output columns
    * (doc_id, component). */
  def extendDelta(assign: DataFrame, newPairs: DataFrame,
      maxRounds: Int = 50,
      localSolveMax: Long = ConnectedComponents.LocalSolveMaxEdges): DataFrame = {
    val a = assign.select(col("doc_id").cast("long").as("doc_id"),
      col("component").cast("long").as("component"))
    val e = norm(newPairs)
    // contraction: each endpoint → its standing root; unseen → itself.
    // Two keyed joins against the standing state (pruned to its two
    // long columns) — the batch never cross-joins the corpus.
    val mapped = e
      .join(a.select(col("doc_id").as("u"), col("component").as("cu")),
        Seq("u"), "left")
      .join(a.select(col("doc_id").as("v"), col("component").as("cv")),
        Seq("v"), "left")
      .select(coalesce(col("cu"), col("u")).as("doc_a"),
        coalesce(col("cv"), col("v")).as("doc_b"))
    // batch-sized exact CC over roots + unseen ids
    val contracted = ConnectedComponents.components(mapped, maxRounds,
      localSolveMax)
    val rootMap = contracted
      .select(col("doc_id").as("component"), col("component").as("newc"))
      .filter(col("component") =!= col("newc"))
    // remapped standing members: one broadcast pass keyed on the OLD
    // root (rootMap is contracted-graph-sized, never corpus-sized)
    val moved = a.join(broadcast(rootMap), Seq("component"))
      .select(col("doc_id"), col("newc").as("component"))
    // first-seen vertices of the new edges, at their final labels
    val fresh = contracted
      .join(a.select(col("doc_id")), Seq("doc_id"), "left_anti")
    moved.unionByName(fresh)
  }

  /** The full post-extend assignment — [[extendDelta]] applied over the
    * standing rows it does not touch. Exactly
    * `ConnectedComponents.components(oldEdges ∪ newPairs)` restricted
    * to (standing ∪ new-edge) vertices; `ClustersSpec` gates that
    * identity on randomized graphs. */
  def extend(assign: DataFrame, newPairs: DataFrame,
      maxRounds: Int = 50,
      localSolveMax: Long = ConnectedComponents.LocalSolveMaxEdges): DataFrame = {
    val a = assign.select(col("doc_id").cast("long").as("doc_id"),
      col("component").cast("long").as("component"))
    val delta = extendDelta(a, newPairs, maxRounds, localSolveMax)
    a.join(delta.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(delta)
  }

  /** Cluster the pair graph and persist the assignment as an ACID
    * table at `path` (rows doc_id, component, gen = 0). */
  def buildSaved(pairs: DataFrame, path: String,
      maxRounds: Int = 50,
      localSolveMax: Long = ConnectedComponents.LocalSolveMaxEdges): Unit = {
    val assign = ConnectedComponents.components(pairs, maxRounds,
      localSolveMax)
    graft.land.AtomicLanding.commit(
      assign.withColumn("gen", lit(0L)), path); ()
  }

  /** The current assignment: latest generation wins per doc — one
    * map-side-combinable groupBy over the state's three long columns.
    * After [[maintainSaved]] every doc has one row again, but the plan
    * is the same either way (readers never special-case). */
  def snapshot(s: SparkSession, path: String): DataFrame =
    graft.land.AtomicLanding.read(s, path)
      .groupBy(col("doc_id"))
      .agg(max(struct(col("gen"), col("component"))).as("w"))
      .select(col("doc_id"), col("w.component").as("component"))

  /** [[extendDelta]] against the RAW generation-stamped state, with the
    * resolution work cut to the rows the batch can touch — the
    * per-append path of [[addToSaved]], which must not pay a state-wide
    * groupBy shuffle per micro-batch:
    *
    *  1. ENDPOINT pass: latest-wins resolution runs after a broadcast
    *     semi-join on the batch's endpoint ids — filtering by key
    *     commutes with per-key argmax, so this is exact.
    *  2. MEMBER pass: members of remapped clusters are found by
    *     matching raw rows on `component` ∈ remapped-roots. Sound
    *     because clusters only ever MERGE: once a root dissolves it can
    *     never be anyone's current root again, so a STALE row's
    *     component (a dissolved root) cannot collide with a current
    *     root in the remap set, and every matching row is current.
    *  3. FRESH pass: contracted nodes with no raw rows are first-seen.
    *
    * Three column-pruned passes over the state (each with a literal
    * key-range filter for parquet footer pruning), zero state-wide
    * shuffles; everything else scales with the batch. `ClustersSpec`
    * gates raw ≡ resolved on multi-generation states. */
  private[ext] def extendDeltaRaw(raw: DataFrame, newPairs: DataFrame,
      maxRounds: Int = 50,
      localSolveMax: Long = ConnectedComponents.LocalSolveMaxEdges): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val e = norm(newPairs)
    val keys = e.select(col("u").as("doc_id"))
      .unionAll(e.select(col("v").as("doc_id"))).distinct()
    def latest(rows: DataFrame): DataFrame =
      rows.groupBy(col("doc_id"))
        .agg(max(struct(col("gen"), col("component"))).as("w"))
        .select(col("doc_id"), col("w.component").as("component"))
    // pass 1: resolve ONLY the endpoint docs
    val aEnd = latest(raw.join(broadcast(keys), Seq("doc_id")))
    val mapped = e
      .join(aEnd.select(col("doc_id").as("u"), col("component").as("cu")),
        Seq("u"), "left")
      .join(aEnd.select(col("doc_id").as("v"), col("component").as("cv")),
        Seq("v"), "left")
      .select(coalesce(col("cu"), col("u")).as("doc_a"),
        coalesce(col("cv"), col("v")).as("doc_b"))
    val contracted = ConnectedComponents.components(mapped, maxRounds,
      localSolveMax).persist()
    try {
      // bounded collect: contracted-graph-sized (≤ 2× batch edges), the
      // same driver-side budget as the CC fast path itself
      val remap = contracted.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).filter(p => p._1 != p._2)
      val moved = if (remap.isEmpty) {
        spark.emptyDataset[(Long, Long)].toDF("doc_id", "component")
      } else {
        val rootMap = remap.toSeq.toDF("component", "newc")
        // literal range + broadcast match: footer pruning plus an exact
        // filter, BEFORE any resolution work
        val lo = remap.map(_._1).min
        val hi = remap.map(_._1).max
        val hit = raw
          .filter(col("component") >= lit(lo) && col("component") <= lit(hi))
          .join(broadcast(rootMap), Seq("component"))
        hit.select(col("doc_id"), col("newc").as("component"))
      }
      // pass 3: first-seen vertices — contracted nodes with no raw rows
      val fresh = contracted
        .join(raw.select(col("doc_id")), Seq("doc_id"), "left_anti")
      moved.unionByName(fresh)
        .localCheckpoint(true) // sever lineage from `contracted` before unpersist
    } finally { contracted.unpersist(); () }
  }

  /** Fold a batch of new edges into the saved assignment: O(affected)
    * write (only remapped + first-seen rows), generation-stamped,
    * CAS-serialized on the state version, batch-id replays are pure
    * no-ops. A crash after the commit is healed by the id check; a
    * lost CAS race recomputes the delta against the winner's state.
    * Reads are the three filtered passes of [[extendDeltaRaw]] — an
    * append never resolves or shuffles the whole state. */
  def addToSaved(s: SparkSession, path: String, newPairs: DataFrame,
      batchId: Option[Long] = None,
      maxRounds: Int = 50,
      localSolveMax: Long = ConnectedComponents.LocalSolveMaxEdges,
      beforeCommit: () => Unit = () => (),
      writer: String = ""): Unit = {
    import graft.land.AtomicLanding
    var done = false
    while (!done) {
      if (batchId.exists(b =>
          AtomicLanding.lastBatchId(path, writer).exists(_ >= b)))
        return // known-committed replay: data + id durable in one swing
      val base = AtomicLanding.currentVersion(path)
      val delta = extendDeltaRaw(AtomicLanding.read(s, path), newPairs,
        maxRounds, localSolveMax)
        .withColumn("gen", lit(base.getOrElse(0L) + 1L))
        .persist()
      beforeCommit() // test seam: a concurrent folder lands HERE
      try {
        if (delta.isEmpty) {
          batchId match {
            case Some(_) =>
              // still record the id (else a replay would re-run the
              // whole contraction): an empty append is O(metadata)
              try {
                AtomicLanding.commit(delta, path, append = true,
                  batchId = batchId, expectedVersion = base,
                  writer = writer); done = true
              } catch {
                case _: java.util.ConcurrentModificationException =>
                  casRetries.incrementAndGet()
              }
            case None => done = true
          }
        } else {
          try {
            AtomicLanding.commit(delta, path, append = true,
              batchId = batchId, expectedVersion = base, writer = writer)
            done = true
          } catch {
            case _: java.util.ConcurrentModificationException =>
              // a concurrent extend won the version: its merges may
              // change THIS batch's contraction, so recompute from the
              // winner's snapshot rather than blind-append
              casRetries.incrementAndGet()
          }
        }
      } finally delta.unpersist()
    }
  }

  /** Compact the generation history back to one row per doc (latest
    * wins), preserving the recorded batch id, then vacuum superseded
    * files. O(state) — the once-in-a-while fold, not the per-batch
    * path. */
  def maintainSaved(s: SparkSession, path: String,
      beforeCommit: () => Unit = () => ()): Unit = {
    import graft.land.AtomicLanding
    var done = false
    while (!done) {
      // Pin version + batch id BEFORE reading: a concurrent addToSaved
      // landing between the read and the commit bumps the version past
      // `v`, so the CAS fails and the fold retries against the winner's
      // state instead of silently erasing the appended rows (the
      // ordering compactSmallFrom and Ivf.rebalanceSavedIndex use).
      val v = AtomicLanding.currentVersion(path)
      val id = AtomicLanding.lastBatchId(path)
      val raw = v.map(AtomicLanding.readVersion(s, path, _))
        .getOrElse(AtomicLanding.read(s, path))
      val folded = raw
        .groupBy(col("doc_id"))
        .agg(max(struct(col("gen"), col("component"))).as("w"))
        .select(col("doc_id"), col("w.component").as("component"))
        .withColumn("gen", lit(0L))
      beforeCommit() // test seam: a concurrent addToSaved lands HERE
      try {
        AtomicLanding.commit(folded, path, batchId = id,
          expectedVersion = v)
        done = true
      } catch {
        case _: java.util.ConcurrentModificationException =>
          casRetries.incrementAndGet()
      }
    }
    AtomicLanding.vacuum(path); ()
  }
}
