package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for the 100 TB regime (brief: "salting for skew, AQE
  * for runtime re-plan").
  *
  * Spark's AQE already splits skewed SORT-MERGE join partitions at
  * runtime (`spark.sql.adaptive.skewJoin`); salting is the static
  * counterpart for the cases AQE does not cover — skewed AGGREGATION
  * keys, and joins where one hot key floods a single task before AQE can
  * act. Both helpers keep exact semantics: results equal the unsalted
  * plan for any salt count.
  *
  * Decision rule (demonstrated in `ScaleOpsSpec`):
  *  - skewed JOIN, sort-merge: do nothing — AQE's OptimizeSkewedJoin
  *    splits the oversized partition into sub-reads at runtime and
  *    duplicates the matching partition on the other side (join
  *    semantics tolerate that). Prefer it over [[saltedJoin]]: zero code,
  *    and it acts on MEASURED sizes, not a guessed salt count.
  *  - skewed JOIN where the hot side must stay one partition (e.g. a
  *    later positional operation) or the join is not sort-merge:
  *    [[saltedJoin]].
  *  - skewed AGGREGATION: AQE cannot split a group — grouping requires
  *    key co-location, so `skewJoin` never fires on a groupBy exchange;
  *    [[saltedSumCount]]'s two-phase reduce is the tool.
  */
object Skew {

  /** Equi-join `big ⋈ small` on `key`, with the big side's hot keys
    * spread over `salts` sub-keys and the small side replicated once per
    * salt. Use when the small side is too large to broadcast and the big
    * side's key histogram has heavy hitters. Cost: small side is written
    * `salts` times into the shuffle — pick the smallest salt count that
    * flattens the histogram. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    // spread by synthetic row id, not rand(). NOTE the limit: a row's id
    // (and so its salt) depends on partition layout and can change
    // under stage retry or AQE re-planning — fine HERE because join and
    // aggregate results are salt-value-independent (any spread works),
    // but never build salt-SENSITIVE logic (per-salt state, salt-keyed
    // sampling) on this; that needs a hash of real key columns
    val saltedBig = big.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts)).cast("int"))
    val saltRange = explode(sequence(lit(0), lit(salts - 1))).as("_salt")
    val saltedSmall = small.select(col("*"), saltRange)
    saltedBig.join(saltedSmall,
        saltedBig(key) === saltedSmall(key) &&
          saltedBig("_salt") === saltedSmall("_salt"))
      .drop(saltedSmall(key)).drop(saltedSmall("_salt")).drop("_salt")
  }

  /** Hot-key-TARGETED two-phase aggregation: estimate the key histogram
    * from a seeded sample, salt ONLY the detected heavy hitters, and
    * leave the uniform tail on the plain single-phase plan.
    * `SKEW_CURVE_r08`..`r11` measured why blanket salting is the wrong
    * default: with a healthy tail, salting every key multiplies the
    * first-phase group count by `salts` and costs ~2x wall, while
    * map-side partial aggregation already absorbs moderate skew. This is the documented defense for
    * the case AQE cannot touch (a group must be co-located, so
    * OptimizeSkewedJoin never fires on a groupBy exchange) without
    * taxing the tail.
    *
    * A key is hot when its estimated full-data row count
    * (`sampled / fraction`) exceeds `hotRowThreshold` — size it near the
    * rows-per-reducer you can tolerate (e.g. partition-bytes-target /
    * row-width). Detection is row-count-based, NOT shuffle-bytes-based,
    * deliberately: AQE's byte thresholds under-detect narrow hot rows
    * that compress well (the lz4 lesson, SURVEY.md §14.3).
    *
    * The hot set collects to the driver, bounded by `maxHotKeys`
    * (heaviest first) — heavy hitters are few by definition, and the
    * result is EXACT regardless of what the sample detected: salting
    * only changes how partials spread, never the final values, so a
    * missed (or spuriously flagged) key costs only performance. The
    * sample is one extra scan; at warehouse scale, feed
    * `hotKeysOverride` from an existing stats/sketch pass instead. */
  def saltedSumCountTargeted(df: DataFrame, key: String, valueCol: Column,
      salts: Int, hotRowThreshold: Long, sampleFraction: Double = 0.01,
      maxHotKeys: Int = 10000, seed: Long = 7L,
      hotKeysOverride: Option[Seq[Any]] = None): DataFrame = {
    require(salts > 0, "salts must be positive")
    require(sampleFraction > 0 && sampleFraction <= 1,
      "sampleFraction must be in (0, 1]")
    val sampleFloor = math.max(1L, (hotRowThreshold * sampleFraction).toLong)
    val hot: Seq[Any] = hotKeysOverride.getOrElse {
      df.sample(withReplacement = false, sampleFraction, seed)
        .groupBy(col(key)).agg(count(lit(1)).as("_c"))
        .filter(col("_c") >= lit(sampleFloor))
        .orderBy(col("_c").desc, col(key).asc)
        .limit(maxHotKeys)
        .select(col(key)).collect().map(_.get(0)).toSeq
    }
    if (hot.isEmpty)
      df.groupBy(col(key))
        .agg(sum(valueCol).as("sum_value"), count(lit(1)).as("n"))
    else
      df.withColumn("_salt", when(col(key).isin(hot: _*),
          pmod(xxhash64(monotonically_increasing_id()), lit(salts)))
          .otherwise(lit(0L)))
        .groupBy(col(key), col("_salt"))
        .agg(sum(valueCol).as("_psum"), count(lit(1)).as("_pcnt"))
        .groupBy(col(key))
        .agg(sum(col("_psum")).as("sum_value"), sum(col("_pcnt")).as("n"))
  }

  /** Two-phase skew-proof aggregation: partial aggregate on
    * (key, salt) — spreading a hot key over `salts` reducers — then final
    * aggregate on key. Decomposable aggregates only; sum/count provided.
    * (Spark's own partial aggregation already does map-side combine; the
    * extra salted REDUCE phase matters when a single key's partials still
    * overwhelm one reducer at the exchange.) */
  def saltedSumCount(df: DataFrame, key: String, valueCol: Column,
      salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    df.withColumn("_salt",
        pmod(xxhash64(monotonically_increasing_id()), lit(salts)))
      .groupBy(col(key), col("_salt"))
      .agg(sum(valueCol).as("_psum"), count(lit(1)).as("_pcnt"))
      .groupBy(col(key))
      .agg(sum(col("_psum")).as("sum_value"), sum(col("_pcnt")).as("n"))
  }
}
