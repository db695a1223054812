package graft.app

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.MetadataStore
import graft.files.FileRelay
import graft.ingest.{IncrementalExtractor, JdbcTableSource, TableSource}
import graft.land.Landing
import graft.model._
import graft.stream.StreamMerger

/** The end-to-end application driver — re-expression of the reference
  * entry point (`/root/reference/ingestion/dataIngestion.py:20-35`):
  * resolve (source_system, data_asset) metadata, dispatch on the
  * ingestion pattern (database | file | stream), land the data under the
  * raw-zone path convention, record the run in the catalog. One catalog
  * insert per run, written AFTER the landing succeeds — the same
  * commit-point ordering as the reference (`dataIngestion.py:26-34`).
  * Unlike the reference, failures PROPAGATE (no blanket exception
  * swallowing, `dataIngestion.py:36-37`).
  */
object IngestionJob {

  final case class Args(
      sourcePath: String, sourceId: Int, assetId: Int, execId: String)

  /** Everything injectable: the store, the file relay, credentials, and
    * the TableSource factory are seams so tests run hermetically against
    * parquet + file:// + in-memory implementations (SURVEY §7.4 risk 6). */
  final case class JobEnv(
      spark: SparkSession,
      store: MetadataStore,
      relay: FileRelay,
      creds: CredentialProvider,
      config: EngineConfig,
      logger: RunLogger,
      sourceFactory: (SparkSession, SourceSystem, DataAsset, CredentialProvider, EngineConfig) => TableSource =
        IngestionJob.jdbcSourceFactory)

  /** Production TableSource: JDBC with the password resolved through the
    * credential seam (`dataIngestionUtils.py:39,70-115`). */
  def jdbcSourceFactory(spark: SparkSession, src: SourceSystem, asset: DataAsset,
      creds: CredentialProvider, cfg: EngineConfig): TableSource = {
    def req[A](o: Option[A], what: String): A =
      o.getOrElse(throw new IllegalArgumentException(
        s"source system ${src.srcSysId}: missing $what for database pattern"))
    new JdbcTableSource(
      spark,
      req(src.dbType, "db_type"),
      req(src.dbHostname, "db_hostname"),
      req(src.dbPort, "db_port"),
      req(src.dbName, "db_name"),
      req(src.dbUsername, "db_username"),
      creds.dbPassword(cfg.fmPrefix, src.srcSysId).getOrElse(
        throw new IllegalArgumentException(
          s"no db secret for source system ${src.srcSysId}")),
      src.dbSchema,
      asset.srcTableName)
  }

  /** Full run: dispatch + land + catalog record. Returns the entry. */
  def run(env: JobEnv, args: Args): CatalogEntry = {
    val log = env.logger
    val paths = env.config.paths
    val src = env.store.sourceSystem(args.sourceId).getOrElse(
      throw new NoSuchElementException(s"unknown source system ${args.sourceId}"))
    val asset = env.store.dataAsset(args.assetId).getOrElse(
      throw new NoSuchElementException(s"unknown data asset ${args.assetId}"))

    // proc_start_ts comes from the exec-timestamp path token, like the
    // reference (`dataIngestionUtils.py:40,245`)
    val startTs: Timestamp = paths.parseTs(paths.timestampToken(args.sourcePath))
    val bucket = src.inboundBucket.getOrElse(paths.inboundBucket(asset.triggerMechanism))
    val logPath = paths.logPath(bucket, args.assetId, args.execId)

    src.ingestionPattern match {
      case IngestionPattern.Database if env.config.transactionalCatalog =>
        // ONE-SWING mode: landing + run record + watermark publish in a
        // single linked-root commit ([[TransactionalIngest]]). The
        // reference's write-then-record ordering (dataIngestion.py:26-34)
        // has a crash window where data is landed but no run record (or
        // watermark) describes it; here the watermark of record lives
        // inside the root's catalog member, so extraction intervals are
        // derived from exactly what was durably published. The control
        // store still receives the entry as a best-effort MIRROR for the
        // RDBMS query surface — replayable from the catalog member, never
        // the commit point.
        log.timed(s"database ingest (transactional) asset=${args.assetId}") {
          require(env.config.atomicLanding,
            "landing.transactional requires landing.atomic")
          require(asset.extMethod == ExtractionMethod.Incremental,
            "landing.transactional covers incremental-extraction assets; " +
              "full extracts are overwrite-per-run, a different commit shape")
          val source = env.sourceFactory(env.spark, src, asset, env.creds, env.config)
          val root = args.sourcePath
          val ext = IncrementalExtractor.extract(source, asset.extMethod,
            asset.extCol,
            TransactionalIngest.highestWatermark(env.spark, root)
              .orElse(env.store.highestWatermark(args.assetId)))
          val entry = CatalogEntry(
            execId = args.execId, srcSysId = src.srcSysId, assetId = args.assetId,
            dqValidation = CatalogEntry.StatusNotStarted,
            dataPublish = CatalogEntry.StatusNotStarted,
            dataMasking = CatalogEntry.StatusNotStarted,
            srcFilePath = root, s3LogPath = logPath,
            procStartTs = startTs,
            createdTs = new Timestamp(System.currentTimeMillis()),
            lastExtTime = ext.newWatermark)
          // batch id = the interval's upper bound: monotone per asset,
          // and a replay of the same interval carries the same id — the
          // exactly-once contract end-to-end
          TransactionalIngest.ingest(env.spark, root, ext.data, entry,
            batchId = ext.newWatermark.map(_.getTime))
          mirrorCatalogEntry(env, entry)
          entry
        }

      case IngestionPattern.Database =>
        log.timed(s"database ingest asset=${args.assetId}") {
          val source = env.sourceFactory(env.spark, src, asset, env.creds, env.config)
          val land: DataFrame => String =
            if (env.config.atomicLanding)
              df => { graft.land.AtomicLanding.commit(df, args.sourcePath)
                      maintain(env.spark, args.sourcePath,
                        env.config.landingCompactThreshold)
                      args.sourcePath }
            else
              df => Landing.parquet(df, args.sourcePath)
          IncrementalExtractor.run(
            env.store, source, asset, src.srcSysId, args.execId,
            land = land,
            logPath = logPath,
            now = () => startTs)
        }

      case IngestionPattern.File if env.config.transactionalCatalog =>
        // ONE-SWING file ingest: inbound objects land as rows WITH the
        // run record ([[TransactionalIngest.ingestFiles]] — closes the
        // same dataIngestion.py:26-34 window the database branch closes;
        // batch id = the run's exec-timestamp token, monotone per asset
        // and stable across retries of the same run)
        log.timed(s"file ingest (transactional) asset=${args.assetId}") {
          require(env.config.atomicLanding,
            "landing.transactional requires landing.atomic")
          val inbound = s"$bucket/${paths.inboundPrefix(src.srcSysId, args.assetId)}"
          val entry = entryOf(args, src, startTs, logPath, lastExt = None)
          TransactionalIngest.ingestFiles(env.spark, args.sourcePath, inbound,
            env.relay, s"$bucket/${paths.processedPrefix(src.srcSysId, args.assetId)}",
            entry, batchId = Some(startTs.getTime))
          mirrorCatalogEntry(env, entry)
          entry
        }

      case IngestionPattern.Stream if env.config.transactionalCatalog =>
        // ONE-SWING stream ingest: merged events land as rows WITH the
        // run record ([[TransactionalIngest.ingestStream]])
        log.timed(s"stream ingest (transactional) asset=${args.assetId}") {
          require(env.config.atomicLanding,
            "landing.transactional requires landing.atomic")
          val inbound = s"$bucket/${paths.inboundPrefix(src.srcSysId, args.assetId)}"
          val entry = entryOf(args, src, startTs, logPath, lastExt = None)
          TransactionalIngest.ingestStream(env.spark, args.sourcePath, inbound,
            env.relay, s"$bucket/${paths.processedPrefix(src.srcSysId, args.assetId)}",
            entry, batchId = Some(startTs.getTime))
          mirrorCatalogEntry(env, entry)
          entry
        }

      case IngestionPattern.File =>
        log.timed(s"file relay asset=${args.assetId}") {
          // copy inbound -> raw zone, then archive inbound -> processed
          // (`dataIngestionUtils.py:196-232`): ONE listing, copied and
          // then archived exactly, so an object arriving after it is
          // never archived without landing
          val inbound = s"$bucket/${paths.inboundPrefix(src.srcSysId, args.assetId)}"
          val copied = env.relay.copyPairs(inbound, args.sourcePath)
          log.info(s"relayed ${copied.size} objects to ${args.sourcePath}")
          env.relay.moveExact(copied.map(_._1),
            s"$bucket/${paths.processedPrefix(src.srcSysId, args.assetId)}")
          record(env, args, src, startTs, logPath, lastExt = None)
        }

      case IngestionPattern.Stream =>
        log.timed(s"stream merge asset=${args.assetId}") {
          val inbound = s"$bucket/${paths.inboundPrefix(src.srcSysId, args.assetId)}"
          val n = StreamMerger.mergeCompat(env.relay, inbound,
            s"${args.sourcePath}/streaming_file.json",
            s"$bucket/${paths.processedPrefix(src.srcSysId, args.assetId)}")
          log.info(s"merged $n events to ${args.sourcePath}")
          record(env, args, src, startTs, logPath, lastExt = None)
        }
    }
  }

  /** Config-driven maintenance for long-running atomic tables, covering
    * both accumulation shapes: a STREAMING table grows live data dirs
    * (one per micro-batch append) and gets compacted + vacuumed; an
    * OVERWRITE-per-run table keeps one live dir forever while
    * superseded snapshots pile up, so it gets vacuumed once more than
    * `threshold` old manifests are reclaimable (time travel to
    * vacuumed versions ends there — the Delta retention trade). The
    * exactly-once batch-id watermark survives compaction, so a replayed
    * micro-batch is still skipped afterwards. `threshold <= 0` disables.
    * Returns the vacuumed paths (empty = nothing to do). */
  def maintain(spark: SparkSession, table: String, threshold: Int,
      targetFiles: Int = 1,
      reservationGraceMs: Long = 600000L): Seq[String] = {
    import graft.land.AtomicLanding
    // Concurrent-writer safe, because this runs IN the commit path where
    // other writers may be live: vacuum gets a grace period so a
    // concurrent writer's future-slot reservation (its per-version lock)
    // and freshly staged data survive. A compact overtaken by a
    // concurrent APPEND rebases (the appended dir rides into the
    // compacted manifest — no starvation on a busy streaming table);
    // only a concurrent REWRITE fails it (expectedVersion), and then
    // maintenance is best-effort and the next run retries it.
    if (threshold <= 0) Nil
    else if (AtomicLanding.liveDirCount(table) > threshold) {
      try AtomicLanding.compact(spark, table, numFiles = targetFiles)
      catch { case _: java.util.ConcurrentModificationException => () }
      AtomicLanding.vacuum(table, futureGraceMs = reservationGraceMs)
    } else if (AtomicLanding.supersededCount(table) > threshold)
      AtomicLanding.vacuum(table, futureGraceMs = reservationGraceMs)
    else Nil
  }

  /** Best-effort RDBMS mirror of a run record whose commit point is the
    * transactional root (the catalog MEMBER — durable in the same swing
    * as the data). Idempotent and non-fatal BY CONTRACT: a retry of a
    * published run must not insert a duplicate mirror row (the member
    * commit already short-circuited, the JDBC insert would not) — held
    * even under CONCURRENT retries via the store's atomic
    * insert-if-absent (the JDBC store resolves the probe race at the
    * control store's unique key, treating duplicate-key as success) —
    * and a mirror failure must not fail a job whose durable publish
    * already succeeded: the mirror is replayable from the catalog
    * member. */
  private def mirrorCatalogEntry(env: JobEnv, entry: CatalogEntry): Unit =
    try {
      env.store.insertCatalogEntryIfAbsent(entry); ()
    } catch {
      case scala.util.control.NonFatal(e) =>
        env.logger.info(s"catalog mirror insert failed for " +
          s"exec_id=${entry.execId} (non-fatal: the catalog member is the " +
          s"record of truth; re-mirror from it): ${e.getMessage}")
    }

  private def entryOf(args: Args, src: SourceSystem, startTs: Timestamp,
      logPath: String, lastExt: Option[Timestamp]): CatalogEntry =
    CatalogEntry(
      execId = args.execId, srcSysId = src.srcSysId, assetId = args.assetId,
      dqValidation = CatalogEntry.StatusNotStarted,
      dataPublish = CatalogEntry.StatusNotStarted,
      dataMasking = CatalogEntry.StatusNotStarted,
      srcFilePath = args.sourcePath, s3LogPath = logPath,
      procStartTs = startTs,
      createdTs = new Timestamp(System.currentTimeMillis()),
      lastExtTime = lastExt)

  private def record(env: JobEnv, args: Args, src: SourceSystem,
      startTs: Timestamp, logPath: String, lastExt: Option[Timestamp]): CatalogEntry = {
    val e = entryOf(args, src, startTs, logPath, lastExt)
    env.store.insertCatalogEntry(e)
    e
  }

  /** CLI: --source_path --source_id --asset_id --exec_id --config, the
    * reference's four Glue args (`dataIngestion.py:20`) plus the config
    * file path. */
  def main(argv: Array[String]): Unit = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    def req(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing arg $k"))
    val cfg = EngineConfig.load(req("--config"))
    val spark = graft.Sessions.build(graft.Sessions.cpusFromEnv, "graft-ingest")
    val creds = new EnvCredentialProvider()
    val props = new java.util.Properties()
    props.setProperty("user", cfg.controlDbUser)
    creds.secret(cfg.controlSecretName).get("password")
      .foreach(props.setProperty("password", _))
    val env = JobEnv(
      spark = spark,
      store = new graft.catalog.JdbcMetadataStore(cfg.controlDbUrl, props),
      relay = new FileRelay(spark.sparkContext.hadoopConfiguration),
      creds = creds,
      config = cfg,
      logger = RunLogger.console())
    val entry = run(env, Args(req("--source_path"), req("--source_id").toInt,
      req("--asset_id").toInt, req("--exec_id")))
    env.logger.info(s"run ${entry.execId} recorded: ${entry.srcFilePath}")
    spark.stop()
  }
}
