package graft.app

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog.InMemoryMetadataStore
import graft.files.FileRelay
import graft.ingest.ParquetTableSource
import graft.model._
import graft.queries.Spool

/** End-to-end driver dispatch over file:// fixtures — all three ingestion
  * patterns (VERDICT r1 item 4): database (via ParquetTableSource seam),
  * file relay, stream merge — each ending in a catalog record. */
class IngestionJobSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cfg = EngineConfig(
    fmPrefix = "dl-fw", region = "us-east-2",
    controlDbUrl = "unused", controlDbUser = "", controlSecretName = "control-db")

  private def newEnv(store: graft.catalog.MetadataStore, root: String) = IngestionJob.JobEnv(
    spark = spark, store = store, relay = new FileRelay(),
    creds = new InMemoryCredentialProvider(Map.empty),
    config = cfg, logger = RunLogger.console(),
    sourceFactory = (s, _, asset, _, _) =>
      new ParquetTableSource(s, TestSpark.Sf0001, asset.srcTableName))

  private def srcSys(id: Int, pattern: IngestionPattern, bucket: String) =
    SourceSystem(id, pattern, None, None, None, None, None, None, Some(bucket))

  test("database pattern: extract, land parquet, record watermark") {
    val root = Spool.dir("graft-app-db")
    val store = new InMemoryMetadataStore(
      sources = Seq(srcSys(1, IngestionPattern.Database, s"$root/inbound")),
      assets = Seq(DataAsset(7, "events", None, TriggerMechanism.TimeDriven,
        ExtractionMethod.Incremental, Some("ts"))))
    val entry = IngestionJob.run(newEnv(store, root),
      IngestionJob.Args(s"$root/raw/7/init/20240110120000", 1, 7, "1_7_20240110120000"))
    assert(spark.read.parquet(s"$root/raw/7/init/20240110120000").count() ==
      graft.Tables.t(spark, TestSpark.Sf0001, "events").count())
    assert(entry.lastExtTime.isDefined)          // watermark recorded
    assert(store.highestWatermark(7) == entry.lastExtTime)
    assert(entry.procStartTs == java.sql.Timestamp.valueOf("2024-01-10 12:00:00"))
    assert(entry.dqValidation == CatalogEntry.StatusNotStarted)
  }

  test("database pattern with atomic landing: data publishes as a snapshot, then records") {
    val root = Spool.dir("graft-app-acid")
    val store = new InMemoryMetadataStore(
      sources = Seq(srcSys(1, IngestionPattern.Database, s"$root/inbound")),
      assets = Seq(DataAsset(7, "events", None, TriggerMechanism.TimeDriven,
        ExtractionMethod.Incremental, Some("ts"))))
    val env = newEnv(store, root)
    val acidEnv = env.copy(config = cfg.copy(atomicLanding = true))
    val dest = s"$root/raw/7/init/20240110120000"
    val entry = IngestionJob.run(acidEnv,
      IngestionJob.Args(dest, 1, 7, "1_7_20240110120000"))
    // readable ONLY through the snapshot pointer — no loose parquet
    assert(graft.land.AtomicLanding.currentVersion(dest).contains(0L))
    assert(graft.land.AtomicLanding.read(spark, dest).count() ==
      graft.Tables.t(spark, TestSpark.Sf0001, "events").count())
    assert(entry.lastExtTime.isDefined) // run record written after publish
  }

  test("transactional catalog mode: landing + run record + watermark publish in ONE swing; the watermark of record lives in the root") {
    val root = Spool.dir("graft-app-txn")
    def freshStore() = new InMemoryMetadataStore(
      sources = Seq(srcSys(1, IngestionPattern.Database, s"$root/inbound")),
      assets = Seq(DataAsset(7, "events", None, TriggerMechanism.TimeDriven,
        ExtractionMethod.Incremental, Some("ts"))))
    val txnCfg = cfg.copy(atomicLanding = true, transactionalCatalog = true)
    val dest = s"$root/raw/7/init/20240110120000"
    val nEvents = graft.Tables.t(spark, TestSpark.Sf0001, "events").count()

    val entry = IngestionJob.run(newEnv(freshStore(), root).copy(config = txnCfg),
      IngestionJob.Args(dest, 1, 7, "1_7_20240110120000"))
    // one consistent pair through the root: the data AND its run record
    val (land, cat) = TransactionalIngest.snapshot(spark, dest).get
    assert(land.count() == nEvents)
    assert(cat.count() == 1)
    assert(entry.lastExtTime.isDefined)

    // the sharp replay test: a SECOND run with a FRESH control store (no
    // mirrored watermark anywhere outside the root) must read the
    // watermark from the root's catalog member and extract an EMPTY
    // interval — falling back to a full re-extract would double the rows
    IngestionJob.run(newEnv(freshStore(), root).copy(config = txnCfg),
      IngestionJob.Args(dest, 1, 7, "1_7_20240110130000"))
    val (land2, cat2) = TransactionalIngest.snapshot(spark, dest).get
    assert(land2.count() == nEvents,
      "the replay must re-extract NOTHING: the watermark travels in the root")
    assert(cat2.count() == 1,
      "an interval replay carries the same batch id — no duplicate run record")

    // config guards
    val e1 = intercept[IllegalArgumentException] {
      IngestionJob.run(newEnv(freshStore(), root)
        .copy(config = cfg.copy(transactionalCatalog = true)),
        IngestionJob.Args(dest, 1, 7, "x"))
    }
    assert(e1.getMessage.contains("landing.atomic"))
  }

  test("a transactional database run over live JDBC starts exactly one Spark job: the landing write") {
    import java.sql.DriverManager
    val derby = DbType.Custom("derby", "org.apache.derby.iapi.jdbc.AutoloadedDriver",
      (_, _, d) => s"jdbc:derby:memory:$d",
      fetchFirst = true, tsLiteralFn = Some(s => s"TIMESTAMP('$s')"))
    val c = DriverManager.getConnection("jdbc:derby:memory:graftjob;create=true")
    c.createStatement().execute("create table orders(id int, ts timestamp)")
    def add(ids: Range): Unit = ids.foreach(i => c.createStatement().execute(
      s"insert into orders values ($i, TIMESTAMP('2024-01-${"%02d".format(i)} 00:00:00'))"))
    add(1 to 5)
    val root = Spool.dir("graft-app-txnjdbc")
    val store = new InMemoryMetadataStore(
      sources = Seq(srcSys(1, IngestionPattern.Database, s"$root/inbound")),
      assets = Seq(DataAsset(9, "orders", None, TriggerMechanism.TimeDriven,
        ExtractionMethod.Incremental, Some("ts"))))
    val env = newEnv(store, root).copy(
      config = cfg.copy(atomicLanding = true, transactionalCatalog = true),
      sourceFactory = (s, _, asset, _, _) => new graft.ingest.JdbcTableSource(
        s, derby, "ignored", 0, "graftjob", "", "", None, asset.srcTableName))
    val dest = s"$root/raw/9/init/20240110120000"
    def run(ts: String): Long = graft.JobCounter.jobsDuring(spark)(
      IngestionJob.run(env, IngestionJob.Args(dest, 1, 9, s"1_9_$ts")))._2
    assert(run("20240110120000") == 1, "first run: full extract + run record")
    add(6 to 7)
    assert(run("20240110130000") == 1, "incremental run: interval + run record")
    val (land, cat) = TransactionalIngest.snapshot(spark, dest).get
    assert(land.count() == 7 && cat.count() == 2)
    c.close()
  }

  test("maintain compacts a many-batch streaming table and keeps replay-skip") {
    import graft.land.AtomicLanding
    val table = Spool.dir("graft-app-mnt") + "/t"
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    val sink = AtomicLanding.streamSink(table)
    (0L to 5L).foreach(b => sink(nation.limit(2), b))     // 6 micro-batches
    assert(AtomicLanding.liveDirCount(table) == 6)
    val rowsBefore = AtomicLanding.read(spark, table).count()

    // below threshold: no-op
    assert(IngestionJob.maintain(spark, table, threshold = 10).isEmpty)
    assert(AtomicLanding.liveDirCount(table) == 6)

    // above threshold: one compacted dir, old dirs + manifests reclaimed
    val removed = IngestionJob.maintain(spark, table, threshold = 3)
    assert(AtomicLanding.liveDirCount(table) == 1)
    assert(removed.count(_.contains("/data/")) == 6)
    assert(AtomicLanding.read(spark, table).count() == rowsBefore)

    // the exactly-once watermark survived: a replayed batch is still skipped
    assert(AtomicLanding.lastBatchId(table).contains(5L))
    sink(nation.limit(2), 5L)
    assert(AtomicLanding.read(spark, table).count() == rowsBefore)
  }

  test("maintain vacuums an overwrite-per-run table once old snapshots pile up") {
    import graft.land.AtomicLanding
    val table = Spool.dir("graft-app-ow") + "/t"
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    // five overwrite commits: liveDirCount stays 1, garbage accumulates
    (1 to 5).foreach(i => AtomicLanding.commit(nation.limit(i), table))
    assert(AtomicLanding.liveDirCount(table) == 1)
    assert(AtomicLanding.supersededCount(table) == 4)
    assert(IngestionJob.maintain(spark, table, threshold = 10).isEmpty) // under
    val removed = IngestionJob.maintain(spark, table, threshold = 3)
    assert(removed.count(_.contains("/data/")) == 4)
    assert(AtomicLanding.supersededCount(table) == 0)
    assert(AtomicLanding.read(spark, table).count() == 5) // live intact
  }

  test("file pattern: relay inbound objects to raw zone and archive them") {
    val root = Spool.dir("graft-app-f")
    val relay = new FileRelay()
    val bucket = s"$root/inbound"
    relay.writeUtf8(new Path(s"$bucket/init/2/8/a.csv"), "x,y\n1,2")
    relay.writeUtf8(new Path(s"$bucket/init/2/8/b.csv"), "x,y\n3,4")
    val store = new InMemoryMetadataStore(
      sources = Seq(srcSys(2, IngestionPattern.File, bucket)),
      assets = Seq(DataAsset(8, "files", None, TriggerMechanism.TimeDriven,
        ExtractionMethod.Full, None)))
    val dest = s"$root/raw/8/init/20240110120000"
    val entry = IngestionJob.run(newEnv(store, root),
      IngestionJob.Args(dest, 2, 8, "2_8_20240110120000"))
    assert(relay.list(dest).map(_.getName).sorted == Seq("a.csv", "b.csv"))
    assert(relay.list(s"$bucket/init/2/8").isEmpty)                 // archived
    assert(relay.list(s"$bucket/processed/2/8").size == 2)
    assert(entry.lastExtTime.isEmpty)
    assert(store.catalogEntries(8).map(_.execId) == Seq("2_8_20240110120000"))
  }

  test("stream pattern: merge concatenated JSON and record the run") {
    val root = Spool.dir("graft-app-s")
    val relay = new FileRelay()
    val bucket = s"$root/inbound"
    relay.writeUtf8(new Path(s"$bucket/init/3/9/e1.json"), """{"a":1}{"a":2}""")
    relay.writeUtf8(new Path(s"$bucket/init/3/9/e2.json"), """{"a":3}""")
    val store = new InMemoryMetadataStore(
      sources = Seq(srcSys(3, IngestionPattern.Stream, bucket)),
      assets = Seq(DataAsset(9, "stream", None, TriggerMechanism.EventDriven,
        ExtractionMethod.Full, None)))
    val dest = s"$root/raw/9/init/20240110120000"
    IngestionJob.run(newEnv(store, root),
      IngestionJob.Args(dest, 3, 9, "3_9_20240110120000"))
    val merged = relay.readUtf8(new Path(s"$dest/streaming_file.json"))
    assert(merged == """[{"a":1},{"a":2},{"a":3}]""")
    assert(relay.list(s"$bucket/init/3/9").isEmpty)
    assert(store.catalogEntries(9).size == 1)
  }

  /** A relay whose first listing of `inbound` drops `late` into it
    * right after listing: the object arrives mid-run. */
  private def lateArrival(inbound: String, late: String, body: String): FileRelay =
    new FileRelay() {
      private var first = true
      override def list(prefix: String): Seq[Path] = {
        val r = super.list(prefix)
        if (first && new Path(prefix) == new Path(inbound)) {
          first = false
          writeUtf8(new Path(s"$inbound/$late"), body)
        }
        r
      }
    }

  test("file pattern: an object arriving after the run's listing is neither landed nor archived") {
    val root = Spool.dir("graft-app-flate")
    val bucket = s"$root/inbound"
    val inbound = s"$bucket/init/2/8"
    val relay = lateArrival(inbound, "late.csv", "x,y\n5,6")
    relay.writeUtf8(new Path(s"$inbound/a.csv"), "x,y\n1,2")
    val store = new InMemoryMetadataStore(
      sources = Seq(srcSys(2, IngestionPattern.File, bucket)),
      assets = Seq(DataAsset(8, "files", None, TriggerMechanism.TimeDriven,
        ExtractionMethod.Full, None)))
    val dest = s"$root/raw/8/init/20240110120000"
    IngestionJob.run(newEnv(store, root).copy(relay = relay),
      IngestionJob.Args(dest, 2, 8, "2_8_20240110120000"))
    def names(p: String) = new FileRelay().list(p).map(_.getName).sorted
    assert(names(dest) == Seq("a.csv"))
    assert(names(s"$bucket/processed/2/8") == Seq("a.csv"),
      "only the landed listing is archived")
    assert(names(inbound) == Seq("late.csv"), "the late object waits for the next run")
  }

  test("stream pattern: an object arriving after the merge's listing is neither merged nor archived") {
    val root = Spool.dir("graft-app-slate")
    val bucket = s"$root/inbound"
    val inbound = s"$bucket/init/3/9"
    val relay = lateArrival(inbound, "late.json", """{"a":9}""")
    relay.writeUtf8(new Path(s"$inbound/e1.json"), """{"a":1}{"a":2}""")
    val store = new InMemoryMetadataStore(
      sources = Seq(srcSys(3, IngestionPattern.Stream, bucket)),
      assets = Seq(DataAsset(9, "stream", None, TriggerMechanism.EventDriven,
        ExtractionMethod.Full, None)))
    val dest = s"$root/raw/9/init/20240110120000"
    IngestionJob.run(newEnv(store, root).copy(relay = relay),
      IngestionJob.Args(dest, 3, 9, "3_9_20240110120000"))
    assert(relay.readUtf8(new Path(s"$dest/streaming_file.json")) == """[{"a":1},{"a":2}]""")
    def names(p: String) = new FileRelay().list(p).map(_.getName).sorted
    assert(names(s"$bucket/processed/3/9") == Seq("e1.json"),
      "only the merged listing is archived")
    assert(names(inbound) == Seq("late.json"), "the late object waits for the next run")
  }

  test("file pattern in transactional mode: objects land as rows WITH the run record in one swing, then archive") {
    val root = Spool.dir("graft-app-ftxn")
    val relay = new FileRelay()
    val bucket = s"$root/inbound"
    relay.writeUtf8(new Path(s"$bucket/init/2/8/a.csv"), "x,y\n1,2")
    relay.writeUtf8(new Path(s"$bucket/init/2/8/b.csv"), "x,y\n3,4")
    val store = new InMemoryMetadataStore(
      sources = Seq(srcSys(2, IngestionPattern.File, bucket)),
      assets = Seq(DataAsset(8, "files", None, TriggerMechanism.TimeDriven,
        ExtractionMethod.Full, None)))
    val dest = s"$root/raw/8/init/20240110120000"
    val entry = IngestionJob.run(
      newEnv(store, root).copy(config =
        cfg.copy(atomicLanding = true, transactionalCatalog = true)),
      IngestionJob.Args(dest, 2, 8, "2_8_20240110120000"))
    val (land, cat) = TransactionalIngest.snapshot(spark, dest).get
    assert(land.select("obj_name").collect().map(_.getString(0)).sorted.toSeq
      == Seq("a.csv", "b.csv"))
    assert(cat.count() == 1)
    assert(relay.list(s"$bucket/init/2/8").isEmpty)            // archived
    assert(relay.list(s"$bucket/processed/2/8").size == 2)
    assert(store.catalogEntries(8).map(_.execId) == Seq(entry.execId))
  }

  test("stream pattern in transactional mode: merged events land as rows WITH the run record in one swing") {
    val root = Spool.dir("graft-app-stxn")
    val relay = new FileRelay()
    val bucket = s"$root/inbound"
    relay.writeUtf8(new Path(s"$bucket/init/3/9/e1.json"), """{"a":1}{"a":2}""")
    relay.writeUtf8(new Path(s"$bucket/init/3/9/e2.json"), """{"a":3}""")
    val store = new InMemoryMetadataStore(
      sources = Seq(srcSys(3, IngestionPattern.Stream, bucket)),
      assets = Seq(DataAsset(9, "stream", None, TriggerMechanism.EventDriven,
        ExtractionMethod.Full, None)))
    val dest = s"$root/raw/9/init/20240110120000"
    IngestionJob.run(
      newEnv(store, root).copy(config =
        cfg.copy(atomicLanding = true, transactionalCatalog = true)),
      IngestionJob.Args(dest, 3, 9, "3_9_20240110120000"))
    val (land, cat) = TransactionalIngest.snapshot(spark, dest).get
    assert(land.select("event_json").collect().map(_.getString(0)).sorted.toSeq
      == Seq("""{"a":1}""", """{"a":2}""", """{"a":3}"""))
    assert(cat.count() == 1)
    assert(relay.list(s"$bucket/init/3/9").isEmpty)
    assert(store.catalogEntries(9).size == 1)
  }

  test("transactional mode's RDBMS mirror is best-effort and idempotent: a mirror failure does not fail a published run; a retry does not duplicate the row (ADVICE r18)") {
    val root = Spool.dir("graft-app-mirror")
    val relay = new FileRelay()
    val bucket = s"$root/inbound"
    relay.writeUtf8(new Path(s"$bucket/init/2/8/a.csv"), "x,y\n1,2")
    var failMirror = true
    val inner = new InMemoryMetadataStore(
      sources = Seq(srcSys(2, IngestionPattern.File, bucket)),
      assets = Seq(DataAsset(8, "files", None, TriggerMechanism.TimeDriven,
        ExtractionMethod.Full, None)))
    val store = new graft.catalog.MetadataStore {
      def sourceSystem(id: Int) = inner.sourceSystem(id)
      def dataAsset(id: Int) = inner.dataAsset(id)
      def highestWatermark(assetId: Int) = inner.highestWatermark(assetId)
      def updateCatalogStatus(execId: String, c: String, v: String) =
        inner.updateCatalogStatus(execId, c, v)
      def catalogEntries(assetId: Int) = inner.catalogEntries(assetId)
      def insertCatalogEntry(e: graft.model.CatalogEntry): Unit = {
        if (failMirror) { failMirror = false
          throw new RuntimeException("mirror store down") }
        inner.insertCatalogEntry(e)
      }
    }
    val dest = s"$root/raw/8/init/20240110120000"
    val env = newEnv(store, root).copy(config =
      cfg.copy(atomicLanding = true, transactionalCatalog = true))
    val args = IngestionJob.Args(dest, 2, 8, "2_8_20240110120000")
    // mirror down: the run must still SUCCEED — the member commit is the
    // record of truth, the mirror is not the commit point
    IngestionJob.run(env, args)
    assert(TransactionalIngest.snapshot(spark, dest).isDefined)
    assert(inner.catalogEntries(8).isEmpty, "mirror insert failed, run survived")
    // retry of the published run: the member commits short-circuit and
    // the mirror heals — exactly ONE row, not one per retry
    IngestionJob.run(env, args)
    IngestionJob.run(env, args)
    assert(inner.catalogEntries(8).map(_.execId) == Seq("2_8_20240110120000"),
      "the healed mirror must hold exactly one row across retries")
  }

  test("unknown ids fail loudly (no reference-style exception swallowing)") {
    val root = Spool.dir("graft-app-x")
    val store = new InMemoryMetadataStore()
    assertThrows[NoSuchElementException](
      IngestionJob.run(newEnv(store, root),
        IngestionJob.Args(s"$root/p/1/init/20240101000000", 1, 1, "e")))
  }
}
