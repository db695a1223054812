package graft.ingest

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.jdbc.{JDBCOptions, JdbcUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.jdbc.JdbcDialects
import graft.model._

/** Extraction SQL pushed to the source database — re-expression of
  * `get_data_from_different_db` (`/root/reference/ingestion/utils/
  * dataIngestionUtils.py:131-177`). Pure string construction, unit-testable
  * without a database.
  *
  * Semantics preserved exactly (SURVEY §3.2): half-open interval
  * `(last, max]` on the watermark column; probe = index-friendly
  * `ORDER BY ext_col DESC LIMIT 1`. The reference's unquoted timestamp
  * literals for mysql/oracle/sqlserver (`dataIngestionUtils.py:150,159,168`)
  * are invalid SQL — every flavor quotes here, matching the postgres branch.
  */
object ExtractionSql {

  /** Fully-qualified table name: only postgres qualifies with the schema
    * (`dataIngestionUtils.py:138` vs `:148,157,166`). */
  def qualified(db: DbType, schema: Option[String], table: String): String =
    schema.filter(_ => db.qualifiesSchema).fold(table)(s => s"$s.$table")

  /** Watermark probe — `dataIngestionUtils.py:136,146,155,164`. The
    * reference emits `ORDER BY ... LIMIT 1` for every flavor; LIMIT is
    * invalid on Oracle (< 23c) and SQL Server, so the single-row clause is
    * branched per dialect (`FETCH FIRST` / `TOP 1`) — same semantics.
    * NULLs are filtered out: Postgres, Oracle and Derby sort them FIRST
    * under `DESC`, so one NULL watermark cell would otherwise be the
    * probed max (`max()` ignores NULLs; so does this probe).
    */
  def probeMax(db: DbType, schema: Option[String], table: String,
      extCol: String): String = {
    val from = s"from ${qualified(db, schema, table)} WHERE $extCol IS NOT NULL " +
      s"ORDER BY $extCol DESC"
    db match {
      case DbType.Oracle =>
        s"select $extCol $from FETCH FIRST 1 ROWS ONLY"
      case c: DbType.Custom if c.fetchFirst =>
        s"select $extCol $from FETCH FIRST 1 ROWS ONLY"
      case DbType.SqlServer =>
        s"select TOP 1 $extCol $from"
      case _ =>
        s"select $extCol $from LIMIT 1"
    }
  }

  /** Full extract — `dataIngestionUtils.py:137-138`. */
  def full(db: DbType, schema: Option[String], table: String): String =
    s"SELECT * FROM ${qualified(db, schema, table)}"

  /** Timestamp literal per dialect. The reference only quotes the postgres
    * branch (`dataIngestionUtils.py:140` vs `:150,159,168` — unquoted,
    * invalid SQL); here every flavor gets a valid quoted literal, and SQL
    * Server (which has no `timestamp '...'` literal form) gets an explicit
    * CAST to DATETIME2. */
  def tsLiteral(db: DbType, t: Timestamp): String = db match {
    case DbType.SqlServer => s"CAST('${fmt(t)}' AS DATETIME2)"
    case c: DbType.Custom if c.tsLiteralFn.isDefined => c.tsLiteralFn.get(fmt(t))
    case _                => s"timestamp '${fmt(t)}'"
  }

  /** Incremental extract: strictly-greater than the recorded watermark,
    * at-most the probed max — `dataIngestionUtils.py:139-141`. */
  def incremental(db: DbType, schema: Option[String], table: String,
      extCol: String, last: Timestamp, max: Timestamp): String =
    s"select * from ${qualified(db, schema, table)} " +
      s"where $extCol > ${tsLiteral(db, last)} " +
      s"and $extCol <= ${tsLiteral(db, max)}"

  private def fmt(t: Timestamp): String = t.toString.stripSuffix(".0")
}

/** A readable table — the seam between the watermark algorithm and the
  * physical source. JDBC in production; parquet fixtures in tests. Both
  * expose the same three reads the reference performs (probe / full /
  * interval), each of which Catalyst pushes down (JDBC `query` option, or
  * parquet filter pushdown).
  */
trait TableSource {
  /** Current high watermark at the source (A1) — `max(ext_col)`. */
  def probeMax(extCol: String): Option[Timestamp]
  /** `SELECT *` (P1). */
  def readFull(): DataFrame
  /** `(last, max]` slice on the watermark column (P4). */
  def readInterval(extCol: String, last: Timestamp, max: Timestamp): DataFrame
}

/** JDBC-backed source. Parallelism note (SURVEY §6): the reference reads
  * every extract in ONE task (no partitionColumn, `dataIngestionUtils.py:
  * 171-176`); at 100 TB that single task is the bottleneck, so this source
  * takes optional partitioning parameters and splits the scan.
  */
final class JdbcTableSource(
    spark: SparkSession,
    db: DbType,
    host: String, port: Int, database: String,
    user: String, password: String,
    schema: Option[String], table: String,
    numPartitions: Int = 1,
    partitionColumn: Option[String] = None) extends TableSource {

  private val connection: Map[String, String] = Map(
    "driver" -> db.driver,
    "url" -> db.url(host, port, database),
    "user" -> user, "password" -> password)

  private def reader(query: String) =
    spark.read.format("jdbc").options(connection + ("query" -> query))

  /** The reference collects a 1-row ORDER BY DESC LIMIT 1 result
    * (`dataIngestionUtils.py:183-184`); the same single round trip here,
    * on one driver connection from Spark's own JDBC connection factory
    * (same driver registration and connection providers as a read), so
    * the probe is no Spark job. The value is kept at the microsecond
    * precision a Spark JDBC read keeps, through the dialect's timestamp
    * hook, so the watermark, the batch id and the interval literals are
    * what a `spark.read` probe would give. */
  def probeMax(extCol: String): Option[Timestamp] = {
    val sql = ExtractionSql.probeMax(db, schema, table, extCol)
    val opts = new JDBCOptions(connection + ("query" -> sql))
    val dialect = JdbcDialects.get(opts.url)
    JdbcUtils.withConnection(opts) { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(sql)
        if (!rs.next()) None
        else Option(rs.getTimestamp(1)).map(t => DateTimeUtils.toJavaTimestamp(
          DateTimeUtils.fromJavaTimestamp(dialect.convertJavaTimestampToTimestamp(t))))
      } finally st.close()
    }
  }

  /** The option map for a bounded parallel scan. Spark's JDBC source
    * requires partitionColumn, lowerBound, upperBound and numPartitions
    * TOGETHER — the bounds are probed with a 1-row min/max query first
    * (one extra round trip, negligible next to the extract itself).
    * Exposed for unit tests; [[readFull]] applies it.
    */
  def partitionedScanOptions(pc: String, lower: String, upper: String): Map[String, String] =
    connection ++ Map(
      "dbtable" -> s"(${ExtractionSql.full(db, schema, table)}) src",
      "partitionColumn" -> pc,
      "lowerBound" -> lower,
      "upperBound" -> upper,
      "numPartitions" -> numPartitions.toString)

  def readFull(): DataFrame = {
    val base = ExtractionSql.full(db, schema, table)
    (partitionColumn, numPartitions) match {
      case (Some(pc), n) if n > 1 =>
        // Parallel scan — the reference reads every extract in ONE task
        // (`dataIngestionUtils.py:171-176`); here the scan splits into n
        // range predicates on the partition column's observed [min, max].
        // aliases matter: some engines (Derby) name unaliased aggregates
        // "1"/"2", which Spark then fails to re-select by name
        val bounds = reader(
          s"SELECT min($pc) AS lo, max($pc) AS hi FROM (${base}) b").load().collect()
        val (lo, hi) = (bounds.headOption.map(_.get(0)).orNull,
                        bounds.headOption.map(_.get(1)).orNull)
        if (lo == null || hi == null) reader(base).load() // empty table: 1 task
        else spark.read.format("jdbc")
          .options(partitionedScanOptions(pc, lo.toString, hi.toString)).load()
      case _ => reader(base).load()
    }
  }

  def readInterval(extCol: String, last: Timestamp, max: Timestamp): DataFrame =
    reader(ExtractionSql.incremental(db, schema, table, extCol, last, max)).load()
}

/** Parquet-backed source over the fixture layout `<dir>/<table>.parquet`.
  * The same probe/full/interval semantics; the interval predicate is pushed
  * into the parquet scan by Catalyst (row-group pruning).
  */
final class ParquetTableSource(spark: SparkSession, dir: String, table: String)
    extends TableSource {
  private def df = graft.Tables.t(spark, dir, table)

  def probeMax(extCol: String): Option[Timestamp] =
    // agg(max) plans partial+final max — no global sort (SURVEY §2.3 A1)
    Option(df.agg(max(col(extCol))).first().getTimestamp(0))

  def readFull(): DataFrame = df

  /** On a native timestamp column the interval filter pushes straight to
    * the parquet scan (`PushedFilters: [GreaterThan(...), LessThanOrEqual
    * (...)]`) — row-group pruning is THE scale lever for incremental
    * extraction. The events fixture's `ts` physical type drifts across
    * fixture generations ([[graft.Tables.events]]), and a filter applied
    * ABOVE a type-normalizing projection defeats pushdown, so the range
    * predicate is rewritten against the RAW column per stored type:
    *  - nanos-as-long: with m = nanos div 1000,
    *    m > L ⟺ nanos > L*1000 + 999 and m <= U ⟺ nanos <= U*1000 + 999;
    *  - timestamp_ntz: compare against NTZ literals (UTC session makes the
    *    rebase value-identity), normalize to TimestampType after.
    */
  def readInterval(extCol: String, last: Timestamp, max: Timestamp): DataFrame =
    if (table == "events" && extCol == "ts") {
      val raw = spark.read.parquet(s"$dir/events.parquet")
      // same dispatch SET as Tables.normalizeTs — an unlisted type must
      // fail with the named drift error there, not silently filter
      // through implicit casts here
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          def micros(t: Timestamp): Long =
            t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
          raw.filter(col("ts") > lit(micros(last) * 1000L + 999L) &&
                     col("ts") <= lit(micros(max) * 1000L + 999L))
             .withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          val ntz = org.apache.spark.sql.types.TimestampNTZType
          raw.filter(col("ts") > lit(last).cast(ntz) &&
                     col("ts") <= lit(max).cast(ntz))
             .withColumn("ts", col("ts").cast("timestamp"))
        case org.apache.spark.sql.types.TimestampType =>
          raw.filter(col("ts") > lit(last) && col("ts") <= lit(max))
        case other =>
          // delegate the throw so the error text lives in ONE place
          raw.withColumn("ts",
            graft.Tables.normalizeTs(other, "ts", "events.ts (readInterval)"))
      }
    } else
      df.filter(col(extCol) > lit(last) && col(extCol) <= lit(max))
}

/** The incremental-watermark extraction lifecycle — re-expression of
  * `pull_data_from_db` + catalog record (`dataIngestionUtils.py:181-194,
  * 234-249`; traced in SURVEY §3.2). Semantics preserved:
  *
  *  1. the upper bound is snapshotted BEFORE the extract — rows arriving
  *     mid-run defer to the next run;
  *  2. interval is half-open `(last, max]` — no row read twice, none
  *     skipped, given a monotone ext_col;
  *  3. first incremental run (no watermark in the catalog) degrades to a
  *     full extract but still records the probed max;
  *  4. `ext_method=full` runs record a NULL watermark
  *     (`dataIngestionUtils.py:43,193-194,247`).
  *
  * The reference's `time.sleep(5)` between probe and watermark read
  * (`dataIngestionUtils.py:186`) is an artifact and is dropped.
  */
object IncrementalExtractor {

  final case class Extract(data: DataFrame, newWatermark: Option[Timestamp])

  def extract(source: TableSource, method: ExtractionMethod,
      extCol: Option[String], lastWatermark: => Option[Timestamp]): Extract =
    method match {
      case ExtractionMethod.Full =>
        Extract(source.readFull(), newWatermark = None)
      case ExtractionMethod.Incremental =>
        val ec = extCol.getOrElse(throw new IllegalArgumentException(
          "incremental extraction requires ext_col"))
        val probed = source.probeMax(ec)            // step 1: snapshot upper bound
        lastWatermark match {                        // step 2: catalog watermark
          case None =>
            Extract(source.readFull(), newWatermark = probed)
          case Some(last) =>
            val upper = probed.getOrElse(last)
            Extract(source.readInterval(ec, last, upper), newWatermark = probed)
        }
    }

  /** Full lifecycle: extract → land → catalog insert (write-then-record
    * ordering as in `dataIngestion.py:26-34`). Returns the catalog entry.
    */
  def run(
      store: graft.catalog.MetadataStore,
      source: TableSource,
      asset: DataAsset,
      srcSysId: Int,
      execId: String,
      land: DataFrame => String,
      logPath: String = "",
      now: () => Timestamp = () => new Timestamp(System.currentTimeMillis())): CatalogEntry = {
    // proc_start_ts records the START of the run (the reference parses it
    // from the exec-timestamp path token, `dataIngestionUtils.py:245`);
    // created_ts is the wall clock at catalog-insert time (`:235,246`).
    val startTs = now()
    val e = extract(source, asset.extMethod, asset.extCol,
      store.highestWatermark(asset.assetId))
    val landedPath = land(e.data)
    val entry = CatalogEntry(
      execId = execId, srcSysId = srcSysId, assetId = asset.assetId,
      dqValidation = CatalogEntry.StatusNotStarted,
      dataPublish = CatalogEntry.StatusNotStarted,
      dataMasking = CatalogEntry.StatusNotStarted,
      srcFilePath = landedPath, s3LogPath = logPath,
      procStartTs = startTs, createdTs = now(), lastExtTime = e.newWatermark)
    store.insertCatalogEntry(entry)
    entry
  }
}
