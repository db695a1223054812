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
      .getOrCreate()

  def cpusFromEnv: Int =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
}
