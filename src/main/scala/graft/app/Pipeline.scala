package graft.app

import java.time.Instant
import graft.catalog.MetadataStore
import graft.model.{CatalogEntry, PathConvention}

/** Event-driven trigger — re-expression of the reference's S3-event
  * Lambda (`/root/reference/airflow/dag_trigerrer/dag_trigerrer.py:9-30`):
  * an ObjectCreated key that conforms to `init/{src}/{asset}/{file}`
  * launches a run for that (source, asset) with a freshly minted exec id
  * and raw landing path (`dl_fmwrk_dag_template.py:8-21` scheme). In the
  * Spark-native engine the Structured Streaming file source subsumes
  * new-object DETECTION (SURVEY §2.5 C5); this is the control-plane hook
  * that turns one detected key into job arguments.
  */
object EventTrigger {

  def handle(paths: PathConvention, key: String,
      now: Instant = Instant.now()): Option[IngestionJob.Args] =
    paths.parseEventKey(key).map { case (srcSysId, assetId) =>
      val ts = paths.formatTs(now)
      IngestionJob.Args(
        sourcePath = paths.rawLanding(srcSysId, assetId, ts),
        sourceId = srcSysId,
        assetId = assetId,
        execId = paths.execId(srcSysId, assetId, ts))
    }

  /** The Lambda end to end (`dag_trigerrer.py:9-30`): a conforming key
    * launches `{src}_{asset}_workflow` through the sink; a non-conforming
    * key launches nothing. Returns the launched DAG id. */
  def fire(paths: PathConvention, key: String, sink: TriggerSink): Option[String] =
    paths.parseEventKey(key).map { case (srcSysId, assetId) =>
      val id = TriggerSink.dagId(srcSysId, assetId)
      sink.trigger(id)
      id
    }
}

/** The 4-stage pipeline protocol — re-expression of the reference DAG
  * (`/root/reference/airflow/template/dl_fmwrk_dag_template.py:39-113`):
  * start → ingest → quality_check → data_masking → data_publish → end,
  * a linear chain whose stages communicate ONLY via (exec_id, source_path)
  * and the catalog status columns seeded "not started"
  * (`dataIngestionUtils.py:240-242`) — a shared-nothing, catalog-mediated
  * protocol (SURVEY §3.3). The downstream stage bodies live outside this
  * repo in the reference too (separate Glue jobs), so they are injected
  * here; the engine owns the ordering and the status bookkeeping.
  */
object Pipeline {

  /** One downstream stage: its catalog status column + injected body. */
  final case class Stage(name: String, statusColumn: String,
      action: CatalogEntry => Unit)

  val StatusPassed = "passed"
  val StatusFailed = "failed"

  def defaultStages(
      quality: CatalogEntry => Unit = _ => (),
      masking: CatalogEntry => Unit = _ => (),
      publish: CatalogEntry => Unit = _ => ()): Seq[Stage] = Seq(
    Stage("quality_check", "dq_validation", quality),
    Stage("data_masking", "data_masking", masking),
    Stage("data_publish", "data_publish", publish))

  /** The committed data an entry's run landed, whichever way it landed:
    * the landing member of a linked root (transactional mode), the
    * snapshot of an atomic table, or the plain parquet dir. */
  private def landed(spark: org.apache.spark.sql.SparkSession,
      entry: CatalogEntry): org.apache.spark.sql.DataFrame = {
    val root = entry.srcFilePath
    TransactionalIngest.snapshot(spark, root).map(_._1)
      .orElse(graft.land.AtomicLanding.currentVersion(root)
        .map(_ => graft.land.AtomicLanding.read(spark, root)))
      .getOrElse(spark.read.parquet(root))
  }

  /** A real quality_check body: validate the landed data against the
    * rules; ANY violation throws — the chain records "failed" and stops
    * before masking/publish ever see bad data. */
  def qualityStage(spark: org.apache.spark.sql.SparkSession,
      rules: Seq[graft.operators.DataQuality.Rule]): CatalogEntry => Unit =
    entry => {
      import org.apache.spark.sql.functions.col
      val bad = graft.operators.DataQuality
        .validate(landed(spark, entry), rules)
        .filter(col("n_violations") > 0L)
        .collect()
      if (bad.nonEmpty) throw new IllegalStateException(
        "dq_validation failed: " + bad.map(r =>
          s"${r.getString(0)}(${r.getString(1)})=${r.getLong(2)}").mkString(", "))
    }

  /** A real data_masking body: rewrite the landed data with the given
    * column replacements into `<srcFilePath>_masked` — raw stays for
    * the restricted zone, downstream publish reads the masked copy. */
  def maskingStage(spark: org.apache.spark.sql.SparkSession,
      masks: Seq[(String, org.apache.spark.sql.Column)]): CatalogEntry => Unit =
    entry => {
      val df = masks.foldLeft(landed(spark, entry)) {
        case (d, (name, c)) => d.withColumn(name, c)
      }
      df.write.mode("overwrite").parquet(entry.srcFilePath + "_masked")
    }

  /** Ingest, then run each stage in order, recording pass/fail in the
    * catalog. A failing stage marks its column "failed" and STOPS the
    * chain (the reference's Airflow behavior on task failure); the
    * failure propagates — no exception swallowing. */
  def run(env: IngestionJob.JobEnv, args: IngestionJob.Args,
      stages: Seq[Stage]): CatalogEntry = {
    val entry = IngestionJob.run(env, args)
    stages.foreach { st =>
      env.logger.timed(s"stage ${st.name} exec=${entry.execId}") {
        try {
          st.action(entry)
          env.store.updateCatalogStatus(entry.execId, st.statusColumn, StatusPassed)
        } catch {
          case e: Throwable =>
            env.store.updateCatalogStatus(entry.execId, st.statusColumn, StatusFailed)
            throw e
        }
      }
    }
    entry
  }
}
