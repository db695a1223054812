package graft.ingest

import java.sql.DriverManager
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.model.DbType
import graft.queries.Spool

/** Live JDBC reads against embedded Derby — in particular the PARTITIONED
  * full scan, which round 1 shipped broken (partitionColumn without
  * bounds throws at load(); the fix probes min/max first). */
class JdbcSourceSpec extends AnyFunSuite {

  private val derbyType = DbType.Custom("derby",
    "org.apache.derby.iapi.jdbc.AutoloadedDriver",
    (_, _, d) => s"jdbc:derby:memory:$d")

  private lazy val ready: Unit = {
    val c = DriverManager.getConnection("jdbc:derby:memory:graftsrc;create=true")
    val st = c.createStatement()
    st.execute("create table items(id int, val varchar(20))")
    val ps = c.prepareStatement("insert into items values (?, ?)")
    (1 to 100).foreach { i =>
      ps.setInt(1, i); ps.setString(2, s"v$i"); ps.addBatch()
    }
    ps.executeBatch()
    c.close()
  }

  test("partitioned readFull splits the scan and reads every row once") {
    ready
    val src = new JdbcTableSource(TestSpark.spark, derbyType,
      "ignored", 0, "graftsrc", "", "", None, "items",
      numPartitions = 4, partitionColumn = Some("id"))
    val df = src.readFull()
    assert(df.rdd.getNumPartitions == 4)           // the parallel scan is real
    // collect, not count: Derby rejects the `SELECT 1` that a count-star
    // pushes down, and the point here is the rows themselves
    val ids = df.collect().map(_.getInt(0))
    assert(ids.length == 100)                       // no row lost
    assert(ids.distinct.length == 100)              // no row duplicated
  }

  test("unpartitioned readFull still works (single-task compat path)") {
    ready
    val src = new JdbcTableSource(TestSpark.spark, derbyType,
      "ignored", 0, "graftsrc", "", "", None, "items")
    assert(src.readFull().collect().length == 100)
  }

  test("partitioned read of an empty table degrades to a single task") {
    val c = DriverManager.getConnection("jdbc:derby:memory:graftsrc")
    c.createStatement().execute("create table empty_items(id int)")
    c.close()
    val src = new JdbcTableSource(TestSpark.spark, derbyType,
      "ignored", 0, "graftsrc", "", "", None, "empty_items",
      numPartitions = 4, partitionColumn = Some("id"))
    assert(src.readFull().collect().isEmpty)
  }

  // ---- the full incremental watermark lifecycle over LIVE JDBC ----

  private val derbyDialect = derbyType.copy(
    fetchFirst = true,
    tsLiteralFn = Some(s => s"TIMESTAMP('$s')"))

  test("incremental lifecycle over live JDBC: probe, interval, exactly-once") {
    import graft.catalog.InMemoryMetadataStore
    import graft.land.Landing
    import graft.model.{DataAsset, ExtractionMethod, TriggerMechanism}
    val spark = TestSpark.spark
    val c = DriverManager.getConnection("jdbc:derby:memory:graftsrc")
    val st = c.createStatement()
    st.execute("create table readings(id int, ts timestamp)")
    val ins = c.prepareStatement("insert into readings values (?, ?)")
    def add(id: Int, t: String): Unit = {
      ins.setInt(1, id)
      ins.setTimestamp(2, java.sql.Timestamp.valueOf(t))
      ins.executeUpdate()
    }
    (1 to 5).foreach(i => add(i, s"2024-01-0$i 00:00:00"))

    val src = new JdbcTableSource(spark, derbyDialect,
      "ignored", 0, "graftsrc", "", "", None, "readings")
    assert(src.probeMax("ts").contains(
      java.sql.Timestamp.valueOf("2024-01-05 00:00:00")))

    val store = new InMemoryMetadataStore()
    val asset = DataAsset(11, "readings", None, TriggerMechanism.TimeDriven,
      ExtractionMethod.Incremental, Some("ts"))
    val out = Spool.dir("graft-jdbc-wm")

    // run 1: no watermark -> full extract of 5 rows, watermark = max ts
    IncrementalExtractor.run(store, src, asset, 1, "jr1",
      land = df => Landing.parquet(df, s"$out/r1"))
    assert(spark.read.parquet(s"$out/r1").count() == 5)

    // rows arrive between runs
    add(6, "2024-01-06 00:00:00")
    add(7, "2024-01-07 00:00:00")

    // run 2: reads EXACTLY the two new rows through the pushed interval SQL
    IncrementalExtractor.run(store, src, asset, 1, "jr2",
      land = df => Landing.parquet(df, s"$out/r2"))
    val r2 = spark.read.parquet(s"$out/r2").collect().map(_.getInt(0)).sorted
    assert(r2.toSeq == Seq(6, 7))

    // run 3: nothing new -> empty interval
    IncrementalExtractor.run(store, src, asset, 1, "jr3",
      land = df => Landing.parquet(df, s"$out/r3"))
    assert(spark.read.parquet(s"$out/r3").count() == 0)
    c.close()
  }

  test("a NULL in the watermark column is never the probed max: the probe and an incremental run skip it") {
    import graft.catalog.InMemoryMetadataStore
    import graft.land.Landing
    import graft.model.{DataAsset, ExtractionMethod, TriggerMechanism}
    val c = DriverManager.getConnection("jdbc:derby:memory:graftsrc")
    c.createStatement().execute("create table holey(id int, ts timestamp)")
    c.createStatement().execute("insert into holey values " +
      "(1, TIMESTAMP('2024-01-01 00:00:00')), (2, NULL), (3, TIMESTAMP('2024-01-03 00:00:00'))")
    val src = new JdbcTableSource(TestSpark.spark, derbyDialect,
      "ignored", 0, "graftsrc", "", "", None, "holey")
    assert(src.probeMax("ts") == Some(java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))

    val store = new InMemoryMetadataStore()
    val asset = DataAsset(12, "holey", None, TriggerMechanism.TimeDriven,
      ExtractionMethod.Incremental, Some("ts"))
    val out = Spool.dir("graft-jdbc-null")
    val first = IncrementalExtractor.run(store, src, asset, 1, "h1",
      land = df => Landing.parquet(df, s"$out/h1"))
    assert(first.lastExtTime.contains(java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
    c.createStatement().execute(
      "insert into holey values (4, NULL), (5, TIMESTAMP('2024-01-05 00:00:00'))")
    IncrementalExtractor.run(store, src, asset, 1, "h2",
      land = df => Landing.parquet(df, s"$out/h2"))
    val ids = TestSpark.spark.read.parquet(s"$out/h2").collect().map(_.getInt(0))
    assert(ids.toSeq == Seq(5))
    c.close()
  }

  test("probeMax of a nanosecond timestamp equals what a Spark JDBC read collects") {
    val c = DriverManager.getConnection("jdbc:derby:memory:graftsrc")
    c.createStatement().execute("create table fine(id int, ts timestamp)")
    c.createStatement().execute(
      "insert into fine values (1, TIMESTAMP('2024-03-01 12:34:56.123456789'))")
    c.close()
    val src = new JdbcTableSource(TestSpark.spark, derbyDialect,
      "ignored", 0, "graftsrc", "", "", None, "fine")
    val probed = src.probeMax("ts").get
    val read = TestSpark.spark.read.format("jdbc")
      .option("driver", derbyType.driver).option("url", "jdbc:derby:memory:graftsrc")
      .option("query", "select ts from fine").load().collect().head.getTimestamp(0)
    assert(probed == read)
    assert(probed.getNanos == 123456000, "a Spark JDBC read keeps microseconds")
  }
}
