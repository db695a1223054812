package perfbench

import java.sql.{DriverManager, Timestamp}
import scala.collection.mutable
import scala.util.Random
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.app._
import graft.catalog.JdbcMetadataStore
import graft.ingest.JdbcTableSource
import graft.land.AtomicLanding
import graft.model.{CatalogEntry, DbType}
import graft.operators.DataQuality

/** `ingest_cycles`: the reference's own job run the way a deployment
  * runs it. Each cycle inserts one seeded increment per pattern, calls
  * `IngestionJob.run` once per pattern (database, stream, file) with
  * atomic landing and the transactional catalog on — each call is one
  * op — then does the quality-stage read of every asset's current
  * snapshot. The database asset lands in ONE root for the whole run, so
  * its table history grows cycle by cycle; the stream and file assets
  * land each run under a fresh `init/<ts>` root, because their batch id
  * is that path's exec timestamp.
  *
  * Sources: an embedded-Derby `orders` table (JDBC `TableSource`) whose
  * increments are cut only at distinct `o_orderdate` values, so every
  * extraction interval `(last, max]` holds whole days; concatenated-JSON
  * event objects; small binary objects. Control store: an embedded-Derby
  * `JdbcMetadataStore`. */
final class IngestCycles(spark: SparkSession, work: String, seed: Long,
    tracer: Tracer) extends Workload {
  import IngestCycles._

  private val cfg = EngineConfig(fmPrefix = "bench", region = "local",
    controlDbUrl = "", controlDbUser = "", controlSecretName = "control-db",
    atomicLanding = true, transactionalCatalog = true)
  private val quiet = new RunLogger(Seq(new LogSink { def write(l: String): Unit = () }))

  // per-setup state
  private var rep = -1
  private var base = ""
  private var env: IngestionJob.JobEnv = _
  /** The control store without its timing wrapper: the checks read it,
    * so their calls never count as the job's. */
  private var ctl: JdbcMetadataStore = _
  private var rng: Random = _
  private var nextDay = 0
  private var nextKey = 0L
  private var nextEvent = 0L
  private var cycle = 0
  private var srcRows = 0L
  private var lastWatermark: Option[Timestamp] = None
  private val runs = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val streamRoots, fileRoots = mutable.ArrayBuffer.empty[String]
  private var dbRows = 0L

  private def dbRoot = s"$base/raw/$DbAsset/init/20240101000000"
  private def srcUrl(k: Int) = s"jdbc:derby:memory:bench_src_$k"
  private def ctlUrl(k: Int) = s"jdbc:derby:memory:bench_ctl_$k"

  private def exec(url: String, sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try sqls.foreach(c.createStatement().execute(_)) finally c.close()
  }

  private def drop(k: Int): Unit = Seq(srcUrl(k), ctlUrl(k)).foreach { u =>
    try DriverManager.getConnection(u + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // drop reports by throwing
  }

  def setUp(k: Int): Unit = {
    if (rep >= 0) drop(rep)
    rep = k
    base = s"$work/ingest_$k"
    rng = new Random(seed)
    nextDay = 0; nextKey = 0L; nextEvent = 0L; cycle = 0; srcRows = 0L
    lastWatermark = None; runs.clear(); streamRoots.clear(); fileRoots.clear()
    dbRows = 0L

    exec(srcUrl(k) + ";create=true",
      """create table orders(o_orderkey bigint, o_custkey bigint,
        |o_orderstatus varchar(1), o_totalprice double, o_orderdate timestamp,
        |o_orderpriority varchar(20))""".stripMargin)
    insertOrders(HistoryDays)
    exec(ctlUrl(k) + ";create=true",
      """create table source_system_ingstn_atrbts(
        |src_sys_id int, ingstn_pattern varchar(20), db_type varchar(20),
        |db_hostname varchar(100), db_username varchar(50), db_schema varchar(50),
        |db_port int, db_name varchar(50), ingstn_src_bckt_nm varchar(500))""".stripMargin,
      """create table data_asset_ingstn_atrbts(
        |asset_id int, src_table_name varchar(100), src_sql_query varchar(500),
        |trigger_mechanism varchar(20), ext_method varchar(20), ext_col varchar(50))""".stripMargin,
      """create table data_asset_catalogs(
        |exec_id varchar(100) not null, src_sys_id int, asset_id int not null,
        |dq_validation varchar(20), data_publish varchar(20), data_masking varchar(20),
        |src_file_path varchar(500), s3_log_path varchar(500),
        |proc_start_ts timestamp, created_ts timestamp, last_ext_time timestamp,
        |constraint data_asset_catalogs_run_uq unique (exec_id, asset_id))""".stripMargin,
      // db_type names a reference flavour; the benchmark's source factory
      // connects to the embedded Derby database named in db_name
      s"""insert into source_system_ingstn_atrbts values
        |(1, 'database', 'postgres', 'localhost', 'bench', null, 0, 'bench_src_$k', '$base/inbound'),
        |(2, 'file', null, null, null, null, null, null, '$base/inbound'),
        |(3, 'stream', null, null, null, null, null, null, '$base/inbound')""".stripMargin,
      s"""insert into data_asset_ingstn_atrbts values
        |($DbAsset, 'orders', null, 'time_driven', 'incremental', 'o_orderdate'),
        |($FileAsset, 'blobs', null, 'time_driven', 'full', null),
        |($StreamAsset, 'events', null, 'event_driven', 'full', null)""".stripMargin)

    val conf = spark.sparkContext.hadoopConfiguration
    ctl = new JdbcMetadataStore(ctlUrl(k), new java.util.Properties())
    env = IngestionJob.JobEnv(
      spark = spark,
      store = new TimedStore(ctl, tracer),
      relay = new TimedRelay(conf, tracer),
      creds = new InMemoryCredentialProvider(Map.empty),
      config = cfg,
      logger = quiet,
      sourceFactory = (s, src, asset, _, _) => new TimedSource(new JdbcTableSource(s, Derby,
        "localhost", 0, src.dbName.get, "", "", None, asset.srcTableName), tracer))
  }

  /** Insert the orders of the next `days` distinct order dates. */
  private def insertOrders(days: Int): Long = {
    val c = DriverManager.getConnection(srcUrl(rep))
    try {
      c.setAutoCommit(false)
      val ps = c.prepareStatement("insert into orders values (?, ?, ?, ?, ?, ?)")
      var n = 0L
      (nextDay until nextDay + days).foreach { day =>
        (1 to 40 + rng.nextInt(45)).foreach { _ =>
          val r = DataGen.orderRow(rng, nextKey, 15000, day)
          ps.setLong(1, r.getLong(0)); ps.setLong(2, r.getLong(1))
          ps.setString(3, r.getString(2)); ps.setDouble(4, r.getDouble(3))
          ps.setTimestamp(5, r.getTimestamp(4)); ps.setString(6, r.getString(5))
          ps.addBatch(); nextKey += 1; n += 1
        }
      }
      ps.executeBatch()
      c.commit()
      nextDay += days
      srcRows += n
      n
    } finally c.close()
  }

  private def inbound(srcSys: Int, asset: Int) =
    s"$base/inbound/${cfg.paths.inboundPrefix(srcSys, asset)}"

  /** Write this cycle's stream and file objects; return what should land. */
  private def writeObjects(): (Seq[String], Map[String, Array[Byte]]) = {
    val relay = new graft.files.FileRelay(spark.sparkContext.hadoopConfiguration)
    val events = (0 until StreamObjects).flatMap { o =>
      val evs = (0 until 20 + rng.nextInt(60)).map { _ =>
        nextEvent += 1
        s"""{"event_id":$nextEvent,"user_id":${rng.nextInt(50)},""" +
          s""""event_type":"${Seq("click", "view", "purchase")(rng.nextInt(3))}",""" +
          s""""value":${rng.nextInt(33000) / 100.0}}"""
      }
      relay.writeUtf8(new Path(s"${inbound(3, StreamAsset)}c${cycle}_o$o.json"), evs.mkString)
      evs
    }
    val files = (0 until FileObjects).map { o =>
      val bytes = new Array[Byte](1024 + rng.nextInt(8192))
      rng.nextBytes(bytes)
      val p = new Path(s"${inbound(2, FileAsset)}c${cycle}_f$o.bin")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
      p.getName -> bytes
    }.toMap
    (events, files)
  }

  private def runJob(r: Recorder, srcSys: Int, asset: Int, root: String, ts: String)(
      check: CatalogEntry => Option[String]): Option[CatalogEntry] =
    r.op("app", s"IngestionJob.run/$asset") {
      IngestionJob.run(env, IngestionJob.Args(root, srcSys, asset, s"${srcSys}_${asset}_$ts"))
    } { e =>
      runs(asset) += 1
      val mirrored = ctl.catalogEntries(asset).size
      if (mirrored != runs(asset))
        Some(s"control store holds $mirrored run records after ${runs(asset)} runs")
      else check(e)
    }

  private def qualityRead(r: Recorder, asset: Int, root: String,
      rules: Seq[DataQuality.Rule], expectRows: Long, expectRuns: Long): Unit =
    r.read("land", s"snapshot+validate/$asset") {
      val (land, cat) = TransactionalIngest.snapshot(spark, root).get
      (land, cat, DataQuality.validate(land, rules).collect())
    } { case (land, cat, violations) =>
      val bad = violations.map(_.getAs[Long]("n_violations")).sum
      val n = land.count()
      val c = cat.count()
      if (bad != 0) Some(s"$bad quality violations in $root")
      else if (n != expectRows) Some(s"landed $n rows, source holds $expectRows")
      else if (c != expectRuns) Some(s"catalog member holds $c runs, expected $expectRuns")
      else None
    }

  def step(r: Recorder): Unit = {
    cycle += 1
    val ts = cfg.paths.formatTs(java.time.Instant.parse("2024-01-01T00:00:00Z")
      .plusSeconds(60L * cycle))
    // 1. one seeded increment per pattern
    val (added, (events, files)) =
      r.aside("increment") { (insertOrders(3 + rng.nextInt(3)), writeObjects()) }
    dbRows += added
    r.rows += added + events.size + files.size

    // 2. one run per pattern
    runJob(r, 1, DbAsset, dbRoot, ts) { e =>
      val ok = (e.lastExtTime, lastWatermark) match {
        case (Some(w), Some(prev)) => w.after(prev)
        case (Some(_), None) => true
        case _ => false
      }
      if (!ok) Some(s"watermark ${e.lastExtTime} does not advance past $lastWatermark")
      else { lastWatermark = e.lastExtTime; None }
    }
    val streamRoot = s"$base/raw/$StreamAsset/init/$ts"
    val fileRoot = s"$base/raw/$FileAsset/init/$ts"
    runJob(r, 3, StreamAsset, streamRoot, ts) { _ =>
      val landed = TransactionalIngest.snapshot(spark, streamRoot).get._1
        .select("event_json").collect().map(_.getString(0)).sorted.toSeq
      if (landed != events.sorted) Some(s"${landed.size} events landed, ${events.size} sent")
      else None
    }
    runJob(r, 2, FileAsset, fileRoot, ts) { _ =>
      val landed = TransactionalIngest.snapshot(spark, fileRoot).get._1
        .select("obj_name", "content").collect()
        .map(x => x.getString(0) -> x.getAs[Array[Byte]](1)).toMap
      if (landed.keySet != files.keySet) Some(s"objects ${landed.keySet} landed, ${files.keySet} sent")
      else files.collectFirst { case (n, b) if !java.util.Arrays.equals(b, landed(n)) =>
        s"object $n is not byte-identical" }
    }
    streamRoots += streamRoot
    fileRoots += fileRoot

    // 3. quality-stage read of each asset's current snapshot
    qualityRead(r, DbAsset, dbRoot,
      Seq(DataQuality.NotNull("o_orderkey"), DataQuality.Unique("o_orderkey"),
        DataQuality.InRange("o_totalprice", 0, 1e6)), srcRows, runs(DbAsset))
    qualityRead(r, StreamAsset, streamRoot,
      Seq(DataQuality.NotNull("event_json"), DataQuality.NotNull("src_obj")), events.size, 1)
    qualityRead(r, FileAsset, fileRoot,
      Seq(DataQuality.NotNull("content"), DataQuality.Unique("obj_name")), files.size, 1)
  }

  def warmUp(r: Recorder): Unit = { step(r); dbRows = 0L }
  def warmSteps: Int = 2
  def minSteps: Int = 4

  private def dirBytes(p: String): Long = {
    val path = new Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) 0L else fs.getContentSummary(path).getLength
  }

  def finish(r: Recorder): Map[String, Double] = {
    val all = dbRoot +: (streamRoots ++ fileRoots).toSeq
    val members = all.flatMap(root => AtomicLanding.linkedSnapshot(root).toSeq
      .flatMap(_.members.map { case (m, v) => (s"$root/$m", v) }))
    val live = members.map { case (t, v) =>
      AtomicLanding.dirPathsOfVersion(t, v).map(dirBytes).sum }.sum
    // the same rows written once: one parquet file per asset
    val assets = Seq(Seq(dbRoot), streamRoots.toSeq, fileRoots.toSeq)
    val once = assets.zipWithIndex.map { case (rs, i) =>
      val out = s"$work/once_$rep/$i"
      rs.map(TransactionalIngest.snapshot(spark, _).get._1).reduce(_ unionByName _)
        .coalesce(1).write.mode("overwrite").parquet(out)
      dirBytes(out)
    }.sum
    val liveDirs = members.map { case (t, _) => AtomicLanding.liveDirCount(t) }.sum
    Map("stored_bytes_per_input_byte" -> live.toDouble / once,
      "input_bytes_once" -> once.toDouble,
      "land.live_dirs" -> liveDirs.toDouble,
      "ingest.rows" -> dbRows.toDouble)
  }
}

object IngestCycles {
  val DbAsset = 11
  val FileAsset = 12
  val StreamAsset = 13
  /** Days of order history in the source before the first run (~62
    * orders a day, the sf0.1 `orders` density). */
  val HistoryDays = 60
  /** Objects per cycle. Fixed, because every object costs each run a
    * few file operations: the seed varies their contents, not count. */
  val StreamObjects = 3
  val FileObjects = 2

  val Derby: DbType = DbType.Custom("derby",
    "org.apache.derby.iapi.jdbc.AutoloadedDriver",
    (_, _, d) => s"jdbc:derby:memory:$d",
    fetchFirst = true, tsLiteralFn = Some(s => s"TIMESTAMP('$s')"))
}
