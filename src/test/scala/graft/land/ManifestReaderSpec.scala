package graft.land

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{JobCounter, TestSpark}
import graft.app.TransactionalIngest
import graft.model.CatalogEntry
import graft.queries.Spool

/** Landed reads resolve their schema from the manifest: for every table
  * shape the engine lands, `read` and `readVersion` equal a merged-footer
  * read of the same dirs in schema and rows, creating the DataFrame runs
  * no Spark job, and a manifest without its schema line (written before
  * schema lines existed) still reads every column. */
class ManifestReaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String = Spool.dir("graft-mreader") + "/t"

  private def footerMerged(table: String, version: Long): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(AtomicLanding.dirPathsOfVersion(table, version): _*)

  /** Rows as sorted JSON: binary, array and timestamp values compare by
    * value. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(col): _*))).as[String]
      .collect().toSeq.sorted

  private def stripSchemaLine(table: String, version: Long): Unit = {
    val p = java.nio.file.Paths.get(table, "manifests", f"m-$version%010d")
    val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    java.nio.file.Files.write(p, text.split("\n")
      .filterNot(_.startsWith("# schema ")).mkString("\n").getBytes("UTF-8"))
  }

  /** The whole contract for one table at its live version. */
  private def assertManifestReads(table: String, expectCols: Seq[String]): Unit = {
    val v = AtomicLanding.currentVersion(table).get
    val (byRead, readJobs) = JobCounter.jobsDuring(spark)(AtomicLanding.read(spark, table))
    val (byVersion, versionJobs) =
      JobCounter.jobsDuring(spark)(AtomicLanding.readVersion(spark, table, v))
    assert(readJobs == 0 && versionJobs == 0,
      s"$table: creating the DataFrame ran $readJobs + $versionJobs jobs")
    val merged = footerMerged(table, v)
    assert(byRead.columns.toSeq == expectCols)
    for (df <- Seq(byRead, byVersion)) {
      assert(df.schema == merged.schema, s"$table: ${df.schema} vs ${merged.schema}")
      assert(rows(df) == rows(merged))
    }
    stripSchemaLine(table, v)
    val legacy = AtomicLanding.read(spark, table)
    assert(legacy.columns.toSeq.sorted == expectCols.sorted)
    assert(rows(legacy.select(expectCols.map(col): _*)) == rows(merged))
  }

  test("an evolved table reads at its recorded schema: older rows null in the added column") {
    val t = freshTable()
    AtomicLanding.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), t)
    AtomicLanding.commit(Seq((3L, "c", 0.5)).toDF("id", "name", "score"),
      t, append = true, evolveSchema = true)
    assert(AtomicLanding.read(spark, t).filter(col("score").isNull).count() == 2)
    assertManifestReads(t, Seq("id", "name", "score"))
  }

  test("a relaxed live array column with a strict append reads like the merged footers") {
    val t = freshTable()
    def frame(id: Long, xs: Seq[Long], containsNull: Boolean) = spark.createDataFrame(
      java.util.List.of(Row(id, xs)),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("xs", ArrayType(LongType, containsNull)))))
    AtomicLanding.commit(frame(1L, Seq(1L, 2L), containsNull = true), t)
    AtomicLanding.commit(frame(2L, Seq(3L), containsNull = false), t, append = true)
    assertManifestReads(t, Seq("id", "xs"))
  }

  private def entry(execId: String, lastExt: Option[Timestamp]): CatalogEntry = {
    val proc = new Timestamp(1700000000000L); proc.setNanos(123456000)
    CatalogEntry(execId = execId, srcSysId = 1, assetId = 7,
      dqValidation = CatalogEntry.StatusNotStarted,
      dataPublish = CatalogEntry.StatusNotStarted,
      dataMasking = CatalogEntry.StatusNotStarted,
      srcFilePath = s"raw/$execId", s3LogPath = s"logs/$execId",
      procStartTs = proc, createdTs = new Timestamp(1700000001000L),
      lastExtTime = lastExt)
  }

  /** Two transactional runs of `batches`; returns the landing and catalog
    * member tables. */
  private def ingestTwice(batches: Seq[DataFrame], evolve: Boolean): (String, String) = {
    val root = Spool.dir("graft-mreader-root") + "/root"
    batches.zipWithIndex.foreach { case (df, i) =>
      val w = new Timestamp(1700000100000L + 1000L * i); w.setNanos(654321000)
      TransactionalIngest.ingest(spark, root, df, entry(s"e$i", Some(w)),
        batchId = Some(i.toLong + 1), evolveLanding = evolve)
    }
    (s"$root/${TransactionalIngest.LandingMember}", s"$root/${TransactionalIngest.CatalogMember}")
  }

  test("the three transactional landing shapes and the catalog member read like the merged footers") {
    val orders = graft.Tables.t(spark, TestSpark.Sf0001, "orders")
    val orderCols = orders.columns.toSeq
    val (ordersT, catalogT) = ingestTwice(Seq(
      orders.filter(col("o_orderkey") % 2 === 0),
      orders.filter(col("o_orderkey") % 2 === 1)), evolve = false)
    assertManifestReads(ordersT, orderCols)

    val (eventsT, _) = ingestTwice(Seq(
      Seq(("a.json", """{"k":1}""", 1L), ("a.json", """{"k":2}""", 1L))
        .toDF("src_obj", "event_json", "batch_id"),
      Seq(("b.json", """{"k":3}""", 2L)).toDF("src_obj", "event_json", "batch_id")),
      evolve = true)
    assertManifestReads(eventsT, Seq("src_obj", "event_json", "batch_id"))

    val bytes = Array[Byte](0, -1, 7, 42)
    val (filesT, _) = ingestTwice(Seq(
      Seq(("x.bin", bytes.length.toLong, bytes, 1L))
        .toDF("obj_name", "length", "content", "batch_id"),
      Seq(("y.bin", 1L, Array[Byte](9), 2L))
        .toDF("obj_name", "length", "content", "batch_id")), evolve = true)
    assertManifestReads(filesT, Seq("obj_name", "length", "content", "batch_id"))

    // the catalog member: timestamps below the millisecond survive
    val procs = AtomicLanding.read(spark, catalogT).select("procStartTs")
      .as[Timestamp].collect()
    assert(procs.forall(_.getNanos == 123456000), procs.toSeq)
    assertManifestReads(catalogT, spark.emptyDataset[CatalogEntry].columns.toSeq)
  }

  test("a shallow clone and a compacted table read like the merged footers") {
    val src = freshTable()
    AtomicLanding.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), src)
    AtomicLanding.commit(Seq((3L, "c", 7L)).toDF("id", "name", "extra"),
      src, append = true, evolveSchema = true)
    val clone = freshTable()
    AtomicLanding.cloneShallow(src, clone)
    assertManifestReads(clone, Seq("id", "name", "extra"))

    val compacted = freshTable()
    AtomicLanding.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), compacted)
    AtomicLanding.commit(Seq((3L, "c", 7L)).toDF("id", "name", "extra"),
      compacted, append = true, evolveSchema = true)
    AtomicLanding.commit(Seq((4L, "d", 8L)).toDF("id", "name", "extra"),
      compacted, append = true)
    AtomicLanding.compact(spark, compacted, numFiles = 1)
    assert(AtomicLanding.liveDirCount(compacted) == 1)
    assertManifestReads(compacted, Seq("id", "name", "extra"))
  }
}
