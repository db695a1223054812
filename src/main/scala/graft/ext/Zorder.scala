package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering: interleave the bits of several columns
  * into one key, so that sorting by the key gives LOCALITY IN EVERY
  * DIMENSION at once — the layout move behind Delta's OPTIMIZE ZORDER,
  * generalizing [[graft.land.Landing.clusteredParquet]]'s 1-D range
  * clustering. At 100 TB the payoff is multi-column file/row-group
  * pruning: a range-clustered table prunes on its ONE sort column, a
  * z-ordered table prunes on EACH of the interleaved columns (each
  * file's parquet min/max footer range on every dimension spans only
  * ~N^(-1/k) of the domain for k interleaved columns), so selective
  * predicates on ANY of them skip whole files before a byte is read.
  *
  * The key is pure integer bit arithmetic (`shiftright`/`&`/`shiftleft`
  * /`|`) over masked non-negative inputs — codegen-friendly, no UDF,
  * and replayable verbatim in any engine with integer shifts, which is
  * what lets `q_zorder` hash-gate the exact key values against a DuckDB
  * replay. One range shuffle at write time, amortized over every
  * subsequent read (same cost model as `clusteredParquet`).
  */
object Zorder {

  /** Morton key: bit j of `cols(i)` lands at position `j * cols.size + i`
    * of the key. Each input is masked to `bits` low bits first (callers
    * pre-scale/mod their domain into that range; 16 bits × 2 cols fills
    * 32 key bits). `bits * cols.size` must stay ≤ 63 so the key is a
    * non-negative Long. */
  def zkey(cols: Seq[Column], bits: Int = 16): Column = {
    require(cols.nonEmpty, "zkey needs at least one column")
    require(bits > 0 && bits * cols.size <= 63,
      s"bits=$bits x ${cols.size} cols must fit a positive Long")
    val n = cols.size
    cols.zipWithIndex.map { case (c, i) =>
      val masked = c.cast("long").bitwiseAND(lit((1L << bits) - 1L))
      (0 until bits).map { j =>
        shiftleft(shiftright(masked, j).bitwiseAND(lit(1L)), j * n + i)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** The DuckDB replay of [[zkey]] — generated from the same (column,
    * bit) enumeration so the oracle can never drift from the Spark
    * expression by hand-editing. */
  def zkeySql(cols: Seq[String], bits: Int = 16): String = {
    val n = cols.size
    val mask = (1L << bits) - 1L
    cols.zipWithIndex.flatMap { case (c, i) =>
      (0 until bits).map { j =>
        s"((($c & $mask) >> $j & 1) << ${j * n + i})"
      }
    }.mkString(" | ")
  }

  /** Scale a column's [lo, hi] domain onto the full `bits` range with
    * exact integer arithmetic — THE step that makes interleaving work
    * on real data: without it a narrow dimension (say an 8-bit key id
    * interleaved with a 40-bit timestamp) contributes only zero high
    * bits, the sort degenerates to the wide column alone, and the
    * narrow column gets no file locality (the z-order pitfall this
    * module's spec caught on first contact with the fixture). Requires
    * `span * mask < 2^63`: span < 2^47 at 16 bits. */
  def scaled(colName: String, lo: Long, hi: Long, bits: Int): Column = {
    require(hi >= lo, s"empty domain [$lo, $hi]")
    require(hi - lo < (1L << (63 - bits)),
      s"domain span ${hi - lo} overflows the $bits-bit scaling")
    val mask = (1L << bits) - 1L
    // SQL `div` (exact integer division) — Column./ is floating and
    // loses bits past 2^53 on wide domains
    if (hi == lo) lit(0L)
    else expr(s"((cast($colName as bigint) - $lo) * $mask) div ${hi - lo}")
  }

  /** [[zkey]] over domain-scaled columns (named). */
  def zkeyScaled(cols: Seq[(String, Long, Long)], bits: Int = 16): Column =
    zkey(cols.map { case (c, lo, hi) => scaled(c, lo, hi, bits) }, bits)

  /** `df` plus the scaled Morton key as `_zkey`. */
  def withKey(df: DataFrame, domains: Seq[(String, Long, Long)],
      bits: Int): DataFrame =
    df.withColumn("_zkey", zkeyScaled(domains, bits))

  /** Z-ordered parquet: probe each cluster column's domain (ONE bounded
    * aggregate — the same write-time cost class as the range shuffle),
    * scale, interleave, range-partition + sort on the key, write with
    * the key kept as `_zkey` (the cluster index column — dropping it
    * would also drop the in-file sort evidence). */
  def clusteredWrite(df: DataFrame, path: String, clusterCols: Seq[String],
      bits: Int, nFiles: Int): String = {
    val aggs = clusterCols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val domains = clusterCols.zipWithIndex.map { case (c, i) =>
      (c, row.getLong(2 * i), row.getLong(2 * i + 1))
    }
    val keyed = withKey(df, domains, bits)
    keyed.repartitionByRange(nFiles, col("_zkey"))
      .sortWithinPartitions(col("_zkey"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    path
  }

  /** Probe each cluster column's min/max with one bounded aggregate. */
  def domainsOf(df: DataFrame, clusterCols: Seq[String]): Seq[(String, Long, Long)] = {
    val aggs = clusterCols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    clusterCols.zipWithIndex.map { case (c, i) =>
      (c, row.getLong(2 * i), row.getLong(2 * i + 1))
    }
  }

  /** DETERMINISTIC bucketed z-layout: bucket id = `_zkey div width` with
    * fixed width = keyspace / nBuckets, one parquet file per non-empty
    * bucket (repartition on the bucket column puts each bucket's rows in
    * exactly one task; partitionBy splits that task's output per bucket
    * dir). Unlike [[clusteredWrite]]'s `repartitionByRange` — whose file
    * bounds come from a SAMPLE and so differ run to run — the bucket
    * function here is pure integer arithmetic over driver-probed domains,
    * REPLAYABLE verbatim in SQL: that is what lets `q_zorder_prune`
    * value-gate files-read counts against a DuckDB replay of the same
    * layout. Fixed-width buckets trade balanced file sizes (range
    * partitioning's strength) for replayability; production layouts keep
    * the range shuffle, this writer exists to make the PRUNING contract
    * an oracle-checkable value. Returns the probed domains. */
  def bucketedWrite(df: DataFrame, path: String, clusterCols: Seq[String],
      bits: Int, nBuckets: Int): Seq[(String, Long, Long)] = {
    require(nBuckets > 0 && Integer.bitCount(nBuckets) == 1,
      s"nBuckets=$nBuckets must be a power of two so width divides the keyspace")
    val domains = domainsOf(df, clusterCols)
    val width = (1L << (bits * clusterCols.size)) / nBuckets
    withKey(df, domains, bits)
      .withColumn("_zb", expr(s"_zkey div $width"))
      .repartition(col("_zb"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("_zb").parquet(path)
    domains
  }

  /** File-level data skipping from parquet footer min/max stats: keep
    * the files whose stats range on EVERY probed column intersects that
    * column's probe range; a pruned-out file provably contains no
    * matching row (footer min/max are exact bounds), so reading only the
    * survivors is lossless — `q_zorder_prune` gates exactly that (a
    * false skip undercounts and hash-fails the row). The footer pass is
    * bounded metadata I/O (one footer per file, no data pages); at
    * cluster scale the same (column → min/max) table lives in a lakehouse
    * manifest and this listing becomes a manifest scan — the planning
    * decision is identical. Returns (totalDataFiles, selectedPaths). */
  def statsPrune(spark: org.apache.spark.sql.SparkSession, path: String,
      probes: Seq[(String, Long, Long)]): (Int, Seq[String]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val files = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.Path]()
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) files += st.getPath
    }
    val selected = files.filter { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        val blocks = r.getFooter.getBlocks.asScala
        probes.forall { case (cname, lo, hi) =>
          val stats = blocks.map(_.getColumns.asScala
            .find(_.getPath.toDotString == cname)
            .getOrElse(throw new IllegalArgumentException(
              s"statsPrune: column $cname not found in $f"))
            .getStatistics)
          val fMin = stats.map(_.genericGetMin
            .asInstanceOf[java.lang.Long].longValue).min
          val fMax = stats.map(_.genericGetMax
            .asInstanceOf[java.lang.Long].longValue).max
          fMin <= hi && fMax >= lo
        }
      } finally r.close()
    }
    (files.size, selected.map(_.toString).toSeq)
  }

  // ------------------------------------------------ ACID layout lifecycle

  /** Z-ordered ACID body: key, range-partition into `nFiles` sorted
    * files, commit as one [[graft.land.AtomicLanding]] snapshot — the
    * layout tier joining the engine's grow-and-maintain contract.
    * `_zkey` stays in the schema (the cluster index column; appends
    * must carry it too, which [[appendUnordered]] handles). */
  def zorderedCommit(df: DataFrame, table: String,
      clusterCols: Seq[String], bits: Int, nFiles: Int): Long = {
    val keyed = withKey(df, domainsOf(df, clusterCols), bits)
    graft.land.AtomicLanding.commit(
      keyed.repartitionByRange(nFiles, col("_zkey"))
        .sortWithinPartitions(col("_zkey")), table)
  }

  /** The DECAY path: an arriving batch lands as one unordered tail dir
    * (its `_zkey` is computed over the batch's OWN domains — good
    * enough for the fold's re-sort, useless for pruning, which is the
    * point: ingest must never pay the body's range shuffle). Footer
    * locality degrades with every append until [[maintainZordered]]
    * folds the tail. Batch-id replays follow the engine-wide
    * at-least-once contract. */
  def appendUnordered(batch: DataFrame, table: String,
      clusterCols: Seq[String], bits: Int,
      batchId: Option[Long] = None, writer: String = ""): Long = {
    import graft.land.AtomicLanding
    if (batchId.exists(b =>
        AtomicLanding.lastBatchId(table, writer).exists(_ >= b)))
      AtomicLanding.currentVersion(table).get
    else
      AtomicLanding.commit(
        withKey(batch, domainsOf(batch, clusterCols), bits),
        table, append = true, batchId = batchId, writer = writer)
  }

  /** Layout MAINTENANCE — the engine's OPTIMIZE ZORDER: fold the
    * small-dir append tail back into `nFiles` z-key-sorted files
    * (re-keyed over the folded rows' own domains — per-file footer
    * locality needs only the fold's internal order, not global key
    * consistency), leaving body dirs untouched; concurrent appends
    * ride the rebase exactly as in every other fold. One maintenance
    * pass restores multi-dimension footer pruning over everything that
    * arrived since the last one; cost scales with the tail, never the
    * body. */
  def maintainZordered(spark: org.apache.spark.sql.SparkSession,
      table: String, clusterCols: Seq[String], bits: Int,
      smallBytes: Long, nFiles: Int): graft.land.AtomicLanding.SmallCompaction =
    graft.land.AtomicLanding.compactSmallFrom(spark, table, smallBytes,
      transform = Some(df => {
        val keyed = withKey(df.drop("_zkey"),
          domainsOf(df, clusterCols), bits)
        keyed.repartitionByRange(nFiles, col("_zkey"))
          .sortWithinPartitions(col("_zkey"))
      }))

  /** Mean per-file footer span over `column`, as a fraction of the
    * global span, across the parquet files under `dirs` — the locality
    * measure the maintenance gate pins: ~1.0 for unordered layouts,
    * well under it once z-order maintenance has run. */
  def meanSpanFraction(spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String], column: String): Double = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dirs.flatMap { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.Path]()
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) buf += st.getPath
      }
      buf
    }
    val ranges = files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        val stats = r.getFooter.getBlocks.asScala.map(_.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .getOrElse(throw new IllegalArgumentException(
            s"meanSpanFraction: column $column not found in $f"))
          .getStatistics)
        (stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
          stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max)
      } finally r.close()
    }
    val global = (ranges.map(_._2).max - ranges.map(_._1).min).toDouble
    if (global == 0d) 0d
    else ranges.map { case (lo, hi) => (hi - lo).toDouble }.sum /
      ranges.size / global
  }
}
