package graft

import org.apache.spark.sql.SparkSession

/** One place to build the engine's local session so every entry point
  * (Verify / Bench / IngestionJob / tests) gets identical session-wide
  * conf — in particular `nanosAsLong`, which MUST be set before the first
  * read of `events.parquet` (TIMESTAMP(NANOS)) and is spooky to flip
  * mid-session from inside a table accessor.
  */
object Sessions {

  /** `spark.sql.shuffle.partitions` is pinned to the core count: on a
    * single-JVM local[n] run the default 200 would fragment every shuffle
    * into tiny tasks. On a real cluster this knob is sized to data volume
    * instead — AQE coalesces from there.
    */
  def build(cpus: Int, appName: String = "graft"): SparkSession =
    SparkSession.builder()
      .appName(appName)
      .withExtensions(graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Deliberately NOT set (r20, measured): AQE's runtime sort-merge →
      // shuffled-hash conversion (maxShuffledHashJoinLocalMapThreshold =
      // 64m) regressed the join-heavy rows ~2× in a same-window A/B
      // (q_fuzzy_join 2.6→6.6 s, q_entity_resolution 3.1→7.1 s at sf0.1)
      // — the per-partition hash builds lose to sort-merge on this
      // board's join shapes. Revisit only with fresh A/B evidence.
      .config("spark.sql.session.timeZone", "UTC")
      // Older events.parquet generations stored TIMESTAMP(NANOS); this conf
      // reads those as long (normalized in graft.Tables.events) and is
      // inert on current timestamp[us] fixtures. Kept defensively — the
      // loader type-dispatches either way.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed tables (co-located joins) need a writable warehouse;
      // local sessions park it in a temp dir deleted at JVM exit
      .config("spark.sql.warehouse.dir", graft.queries.Spool.dir("graft-warehouse"))
      .config("spark.ui.enabled", "false")
      // A plan shape compiles once per JVM (DESIGN.md principle 19).
      // Spark keys its codegen cache on (task context loader, source).
      // With artifact isolation on, every cloned session (each streaming
      // query, each persist's CacheManager clone) tags its jobs with its
      // own artifact state, and the executor gives each state a fresh
      // class loader: q_stream_window recompiled 13 classes per run and
      // Dedup.minhashNearDupPairs 20, from identical source. graft adds
      // no session artifacts, so isolation buys it nothing.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // The default 100 entries sit below the working set, so the LRU
      // evicts a class before its reuse: one ops_small pass loads 101
      // classes (95-100 recompiles a warm pass), one pass of the coverage
      // suite at sf0.001 about 2,560 (2,685 cached after three passes).
      // 4,000 holds the suite with room for one-off classes, which the
      // LRU drops first. Holding the suite's classes cost about 18 MB of
      // metaspace and 71 MB of heap after GC over 100 entries, and cut a
      // warm pass's compiles from about 3,480 (29-35 s) to 39-68.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // Streaming checkpoints on file: go through NIO (DESIGN.md
      // principle 10): Spark's default manager forked 157 processes
      // (readlink per rename, chmod per create and mkdir) in one
      // q_stream_window run. Other schemes keep Spark's default.
      .config(graft.stream.LocalCheckpointFileManager.ClassKey,
        classOf[graft.stream.LocalCheckpointFileManager].getName)
      .getOrCreate()

  def cpusFromEnv: Int =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
}
