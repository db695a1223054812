package graft.app

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog.InMemoryMetadataStore
import graft.files.FileRelay
import graft.ingest.ParquetTableSource
import graft.model._
import graft.queries.Spool

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cfg = EngineConfig("dl-fw", "us-east-2", "unused", "", "control-db")

  test("event trigger mints args from a conforming key, rejects the rest") {
    val paths = cfg.paths
    val now = java.time.Instant.parse("2024-01-10T12:00:00Z")
    val args = EventTrigger.handle(paths, "init/3/7/part-0.json", now).get
    assert(args.sourceId == 3 && args.assetId == 7)
    assert(args.execId == "3_7_20240110120000")
    assert(args.sourcePath == "s3://dl-fw-3-us-east-2/7/init/20240110120000")
    assert(EventTrigger.handle(paths, "init/3/7/", now).isEmpty)
    assert(EventTrigger.handle(paths, "other/3/7/x", now).isEmpty)
  }

  private def env(store: InMemoryMetadataStore) = IngestionJob.JobEnv(
    spark = spark, store = store, relay = new FileRelay(),
    creds = new InMemoryCredentialProvider(Map.empty),
    config = cfg, logger = new RunLogger(Seq(new BufferSink)),
    sourceFactory = (s, _, asset, _, _) =>
      new ParquetTableSource(s, TestSpark.Sf0001, asset.srcTableName))

  private def store() = new InMemoryMetadataStore(
    sources = Seq(SourceSystem(1, IngestionPattern.Database, None, None, None,
      None, None, None, Some("bkt"))),
    assets = Seq(DataAsset(7, "region", None, TriggerMechanism.TimeDriven,
      ExtractionMethod.Full, None)))

  private def args(root: String) = IngestionJob.Args(
    s"$root/raw/7/init/20240110120000", 1, 7, "1_7_20240110120000")

  test("pipeline chain flips catalog statuses in stage order") {
    val st = store()
    val root = Spool.dir("graft-pipe")
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    Pipeline.run(env(st), args(root), Pipeline.defaultStages(
      quality = _ => seen += "q", masking = _ => seen += "m",
      publish = _ => seen += "p"))
    assert(seen.toList == List("q", "m", "p")) // linear chain, in order
    val e = st.catalogEntries(7).head
    assert(e.dqValidation == "passed" && e.dataMasking == "passed" &&
      e.dataPublish == "passed")
  }

  test("real DQ + masking stage bodies: clean data passes and lands masked; violations stop the chain") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{DataQuality, Masking}
    val st = store()
    val root = Spool.dir("graft-pipe3")
    val a = args(root)
    // region fixture: r_regionkey 0..4, unique, non-null -> rules pass
    Pipeline.run(env(st), a, Pipeline.defaultStages(
      quality = Pipeline.qualityStage(spark, Seq(
        DataQuality.NotNull("r_regionkey"),
        DataQuality.InRange("r_regionkey", 0, 4),
        DataQuality.Unique("r_regionkey"))),
      masking = Pipeline.maskingStage(spark, Seq(
        "r_name" -> Masking.pseudonym(col("r_name"), "s1").cast("string")))))
    val e = st.catalogEntries(7).head
    assert(e.dqValidation == "passed" && e.dataMasking == "passed")
    val masked = spark.read.parquet(a.sourcePath + "_masked")
    assert(masked.count() == 5)
    assert(masked.filter(col("r_name").rlike("^[0-9]+$")).count() == 5) // names tokenized

    // a rule the data violates: range too tight -> failed + chain stops
    val st2 = store()
    val root2 = Spool.dir("graft-pipe4")
    val ex = intercept[IllegalStateException] {
      Pipeline.run(env(st2), args(root2), Pipeline.defaultStages(
        quality = Pipeline.qualityStage(spark, Seq(
          DataQuality.InRange("r_regionkey", 0, 2)))))
    }
    assert(ex.getMessage.contains("in_range"))
    val e2 = st2.catalogEntries(7).head
    assert(e2.dqValidation == "failed")
    assert(e2.dataMasking == CatalogEntry.StatusNotStarted)
  }

  /** Quality and masking over what a run landed at `sourcePath` under
    * `config`, twice into the same root; returns the masked row count. */
  private def stagesOverLanded(st: InMemoryMetadataStore, config: EngineConfig,
      keyCol: String, textCol: String): Long = {
    import org.apache.spark.sql.functions.col
    import graft.operators.{DataQuality, Masking}
    val root = Spool.dir("graft-pipe-landed")
    val stages = Pipeline.defaultStages(
      quality = Pipeline.qualityStage(spark, Seq(
        DataQuality.NotNull(keyCol), DataQuality.Unique(keyCol))),
      masking = Pipeline.maskingStage(spark, Seq(
        textCol -> Masking.pseudonym(col(textCol), "s1").cast("string"))))
    val a = args(root)
    for (execId <- Seq("1_7_20240110120000", "1_7_20240110130000"))
      Pipeline.run(env(st).copy(config = config), a.copy(execId = execId), stages)
    assert(st.catalogEntries(7).forall(e =>
      e.dqValidation == "passed" && e.dataMasking == "passed"))
    spark.read.parquet(a.sourcePath + "_masked").count()
  }

  test("with atomic landing the stages read the table's committed snapshot") {
    assert(stagesOverLanded(store(), cfg.copy(atomicLanding = true),
      "r_regionkey", "r_name") == 5)
  }

  test("in transactional mode the stages read the linked root's landing member") {
    val st = new InMemoryMetadataStore(
      sources = Seq(SourceSystem(1, IngestionPattern.Database, None, None, None,
        None, None, None, Some("bkt"))),
      assets = Seq(DataAsset(7, "events", None, TriggerMechanism.TimeDriven,
        ExtractionMethod.Incremental, Some("ts"))))
    assert(stagesOverLanded(st, cfg.copy(atomicLanding = true, transactionalCatalog = true),
      "event_id", "event_type") == graft.Tables.t(spark, TestSpark.Sf0001, "events").count())
  }

  test("a failing stage is marked failed, later stages never run") {
    val st = store()
    val root = Spool.dir("graft-pipe2")
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    assertThrows[RuntimeException] {
      Pipeline.run(env(st), args(root), Pipeline.defaultStages(
        quality = _ => seen += "q",
        masking = _ => throw new RuntimeException("mask blew up"),
        publish = _ => seen += "p"))
    }
    assert(seen.toList == List("q")) // publish never ran
    val e = st.catalogEntries(7).head
    assert(e.dqValidation == "passed")
    assert(e.dataMasking == "failed")
    assert(e.dataPublish == CatalogEntry.StatusNotStarted)
  }
}
