package graft.land

import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{JobCounter, TestSpark}
import graft.app.TransactionalIngest
import graft.model.CatalogEntry
import graft.queries.Spool

/** A commit whose rows are already on the driver (a plan that optimizes
  * to a local relation) is written by the driver: no Spark job, and the
  * staged file is the file a `df.write` task writes for the same rows —
  * the same parquet schema (nullability included), footer key-value
  * metadata, writer and codec — read back as the same rows, under the
  * same append enforcement. */
class DriverCommitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String = Spool.dir("graft-drivercommit") + "/t"

  private val wide = StructType(Seq(
    StructField("i", IntegerType, nullable = false),
    StructField("l", LongType),
    StructField("d", DoubleType, nullable = false),
    StructField("f", FloatType),
    StructField("b", BooleanType),
    StructField("s", StringType),
    StructField("s_nn", StringType, nullable = false),
    StructField("ts", TimestampType),
    StructField("day", DateType),
    StructField("dec", DecimalType(18, 4)),
    StructField("bin", BinaryType),
    StructField("arr", ArrayType(IntegerType, containsNull = true)),
    StructField("arr_nn", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("m", MapType(StringType, DoubleType)),
    StructField("st", StructType(Seq(
      StructField("a", IntegerType, nullable = false),
      StructField("z", StringType))))))

  private def ts(s: String, nanos: Int): Timestamp = {
    val t = Timestamp.valueOf(s); t.setNanos(nanos); t
  }

  private val wideRows = Seq(
    Row(1, 10L, 1.5, 2.5f, true, "héllo wörld ✓ 日本語", "ascii",
      ts("2024-03-01 12:34:56", 123456000), Date.valueOf("2024-03-01"),
      new java.math.BigDecimal("12345.6789"), Array[Byte](0, 1, -1, 127),
      Seq(1, null, 3), Seq(7L, 8L), Map("k" -> 1.0, "é" -> -2.0), Row(1, "x")),
    Row(2, null, -0.0, null, null, null, "", null, null, null, null, null,
      Seq.empty[Long], null, null),
    Row(3, Long.MinValue, Double.MaxValue, Float.NaN, false, "🚀 emoji", "ß",
      ts("1969-12-31 23:59:59", 999999000), Date.valueOf("1900-01-01"),
      new java.math.BigDecimal("-0.0001"), Array.emptyByteArray, Seq.empty[Integer],
      Seq(Long.MaxValue), Map.empty[String, Double], Row(-1, null)))

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The footers of every parquet file under `dir`. */
  private def footers(dir: String): Seq[(String, ParquetMetadata)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    root.getFileSystem(conf).listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        try p.getName -> r.getFooter finally r.close()
      }
  }

  /** Rows as sorted JSON: binary, array, map and timestamp values
    * compare by value. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(col): _*))).as[String]
      .collect().toSeq.sorted

  /** Commit `df` with no job, then hold its one staged file against what
    * `df.write` writes for the same rows. */
  private def assertDriverCommit(df: DataFrame): Unit = {
    val table = freshTable()
    val (v, jobs) = JobCounter.jobsDuring(spark)(AtomicLanding.commit(df, table))
    assert(jobs == 0, s"a local-relation commit ran $jobs Spark jobs")
    val Seq(dir) = AtomicLanding.dirPathsOfVersion(table, v)
    val driver = footers(dir)
    assert(driver.size == 1, s"driver commit wrote ${driver.map(_._1)}")
    val (driverName, driverFooter) = driver.head

    val byJob = Spool.dir("graft-drivercommit-job") + "/out"
    df.write.parquet(byJob)
    val jobFooters = footers(byJob)
    assert(jobFooters.nonEmpty)
    for ((jobName, jobFooter) <- jobFooters) {
      assert(driverName.substring(driverName.indexOf('.')) ==
        jobName.substring(jobName.indexOf('.')), "same codec extension")
      val (dm, jm) = (driverFooter.getFileMetaData, jobFooter.getFileMetaData)
      assert(dm.getSchema == jm.getSchema)
      assert(dm.getKeyValueMetaData == jm.getKeyValueMetaData)
      assert(dm.getCreatedBy == jm.getCreatedBy)
      val codecs = (driverFooter.getBlocks.asScala ++ jobFooter.getBlocks.asScala)
        .flatMap(_.getColumns.asScala.map(_.getCodec)).distinct
      assert(codecs.size <= 1, s"codecs differ: $codecs")
    }
    assert(rows(AtomicLanding.read(spark, table)) == rows(df))
    assert(rows(AtomicLanding.read(spark, table)) == rows(spark.read.parquet(byJob)))
  }

  test("a local-relation commit runs no Spark job and stages the file df.write writes: every type, nulls, multi-byte strings, microsecond timestamps") {
    assertDriverCommit(local(wideRows, wide))
  }

  test("an empty local relation commits with no job, schema footer intact") {
    assertDriverCommit(local(Nil, wide))
    // the empty shapes the transactional stream and file patterns land
    assertDriverCommit(spark.emptyDataset[(String, String, Long)]
      .toDF("src_obj", "event_json", "batch_id"))
  }

  test("a run record built from a case class commits with no job") {
    val e = CatalogEntry(execId = "x", srcSysId = 1, assetId = 2,
      dqValidation = CatalogEntry.StatusNotStarted,
      dataPublish = CatalogEntry.StatusNotStarted,
      dataMasking = CatalogEntry.StatusNotStarted,
      srcFilePath = "p", s3LogPath = "",
      procStartTs = ts("2024-01-01 00:00:00", 0),
      createdTs = ts("2024-01-01 00:00:01", 5000),
      lastExtTime = Some(ts("2024-01-01 00:00:02", 123456789)))
    assertDriverCommit(Seq(e).toDF())
    // through the transactional ingest: the catalog member and an empty
    // landing batch commit with no job; the root publish runs none either
    val root = Spool.dir("graft-drivercommit-root")
    val empty = local(Nil, StructType(Seq(StructField("id", LongType))))
    val (_, jobs) = JobCounter.jobsDuring(spark)(
      TransactionalIngest.ingest(spark, root, empty, e, batchId = Some(1L)))
    assert(jobs == 0)
    val (land, cat) = TransactionalIngest.snapshot(spark, root).get
    assert(land.count() == 0 && cat.count() == 1)
  }

  test("a plan that is not a local relation still commits through a write job with its _SUCCESS mark") {
    val table = freshTable()
    val (v, jobs) = JobCounter.jobsDuring(spark)(
      AtomicLanding.commit(spark.range(5).toDF("id"), table))
    assert(jobs >= 1)
    val Seq(dir) = AtomicLanding.dirPathsOfVersion(table, v)
    assert(new java.io.File(new java.net.URI(dir).getPath, "_SUCCESS").exists())
    assert(AtomicLanding.read(spark, table).count() == 5)
  }

  test("append enforcement raises the same drop and retype errors on either path") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val table = freshTable()
    AtomicLanding.commit(local(Seq(Row(1L, "a")), schema), table)
    val dropLocal = local(Seq(Row(2L)), StructType(Seq(StructField("id", LongType))))
    val dropJob = spark.range(2, 3).toDF("id")
    val retypeLocal = local(Seq(Row(2L, 5)),
      StructType(Seq(StructField("id", LongType), StructField("name", IntegerType))))
    val retypeJob = spark.range(2, 3).toDF("id").withColumn("name", lit(5))
    def error(df: DataFrame): String = intercept[IllegalArgumentException](
      AtomicLanding.commit(df, table, append = true)).getMessage
    assert(error(dropLocal) == error(dropJob))
    assert(error(dropLocal).contains("append drops live column 'name'"))
    assert(error(retypeLocal) == error(retypeJob))
    assert(error(retypeLocal).contains("append retypes live column 'name'"))
    assert(AtomicLanding.currentVersion(table).contains(0L))
    assert(rows(AtomicLanding.read(spark, table)) == Seq("""{"id":1,"name":"a"}"""))
  }
}
