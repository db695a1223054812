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
  * same append enforcement. Any other plan is one write job whose tasks
  * stage straight into the commit's dir ([[StagingCommitProtocol]]),
  * and its files hold the same against `df.write` too. */
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

  /** Commit `df`, then hold every staged file against every file
    * `df.write` writes for the same rows. Returns the staged dir. */
  private def assertSameFiles(df: DataFrame, byDriver: Boolean): String = {
    val table = freshTable()
    val (v, jobs) = JobCounter.jobsDuring(spark)(AtomicLanding.commit(df, table))
    if (byDriver) assert(jobs == 0, s"a local-relation commit ran $jobs Spark jobs")
    else assert(jobs >= 1)
    val Seq(dir) = AtomicLanding.dirPathsOfVersion(table, v)
    val staged = footers(dir)
    if (byDriver) assert(staged.size == 1, s"driver commit wrote ${staged.map(_._1)}")
    else assert(staged.nonEmpty)

    val byJob = Spool.dir("graft-drivercommit-job") + "/out"
    df.write.parquet(byJob)
    val jobFooters = footers(byJob)
    assert(jobFooters.nonEmpty)
    for ((stagedName, stagedFooter) <- staged; (jobName, jobFooter) <- jobFooters) {
      assert(stagedName.substring(stagedName.indexOf('.')) ==
        jobName.substring(jobName.indexOf('.')), "same codec extension")
      val (dm, jm) = (stagedFooter.getFileMetaData, jobFooter.getFileMetaData)
      assert(dm.getSchema == jm.getSchema)
      assert(dm.getKeyValueMetaData == jm.getKeyValueMetaData)
      assert(dm.getCreatedBy == jm.getCreatedBy)
      val codecs = (stagedFooter.getBlocks.asScala ++ jobFooter.getBlocks.asScala)
        .flatMap(_.getColumns.asScala.map(_.getCodec)).distinct
      assert(codecs.size <= 1, s"codecs differ: $codecs")
    }
    assert(rows(AtomicLanding.read(spark, table)) == rows(df))
    assert(rows(AtomicLanding.read(spark, table)) == rows(spark.read.parquet(byJob)))
    dir
  }

  private def assertDriverCommit(df: DataFrame): Unit = { assertSameFiles(df, byDriver = true); () }

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

  /** The names in a staged dir, on the local file system. */
  private def names(dir: String): Seq[String] =
    Option(new java.io.File(dir.stripPrefix("file:")).list()).toSeq.flatten.sorted

  test("a plan that is not a local relation still commits through a write job, staged with its committed part files only") {
    val table = freshTable()
    val (v, jobs) = JobCounter.jobsDuring(spark)(
      AtomicLanding.commit(spark.range(5).toDF("id").repartition(2), table))
    assert(jobs >= 1)
    val Seq(dir) = AtomicLanding.dirPathsOfVersion(table, v)
    // every task file renamed to its committed name next to its .crc: no
    // _SUCCESS, no _temporary tree, no attempt file left
    val ns = names(dir)
    val parts = ns.filter(_.startsWith("part-"))
    assert(parts.nonEmpty && parts.forall(_.endsWith(".parquet")), ns)
    assert(ns.toSet == (parts ++ parts.map(p => s".$p.crc")).toSet, ns)
    assert(AtomicLanding.read(spark, table).count() == 5)
  }

  test("a write job stages the files df.write writes: every type, through two tasks") {
    val df = local(wideRows, wide).repartition(2)
    val dir = assertSameFiles(df, byDriver = false)
    assert(footers(dir).size == 2, "one file per non-empty task")
  }

  test("a task that throws publishes no version, and the next commit succeeds") {
    val table = freshTable()
    AtomicLanding.commit(spark.range(3).toDF("id"), table)
    val boom = udf((i: Long) => if (i == 7L) throw new IllegalStateException("boom") else i)
    intercept[org.apache.spark.SparkException](
      AtomicLanding.commit(spark.range(0, 10, 1, 1).select(boom(col("id")).as("id")), table))
    assert(AtomicLanding.currentVersion(table).contains(0L))
    assert(names(s"$table/.staging").isEmpty, "the aborted job drops its staging dir")
    assert(names(s"$table/data").size == 1)
    assert(AtomicLanding.commit(spark.range(4).toDF("id"), table) == 1L)
    assert(AtomicLanding.read(spark, table).count() == 4)
  }

  test("a duplicate column name, an empty schema and an unsupported type fail as df.write fails them, on either path") {
    def error(f: => Any): String = intercept[org.apache.spark.sql.AnalysisException](f).getMessage
    val cases = Seq(
      spark.range(3).select(col("id"), col("id")),
      spark.range(3).select(col("id"), col("id").as("ID")),
      spark.range(3).select(),
      spark.range(3).select(col("id"), struct().as("st")),
      spark.range(3).select(col("id"), expr("make_interval(0, 0, 0, cast(id as int))").as("iv")))
    for (df <- cases) {
      val table = freshTable()
      val expected = error(df.write.parquet(Spool.dir("graft-drivercommit-job") + "/out"))
      assert(error(AtomicLanding.commit(df, table)) == expected)
      assert(AtomicLanding.currentVersion(table).isEmpty)
    }
    for (df <- cases) {
      val onDriver = local(Nil, df.schema)
      assert(error(AtomicLanding.commit(onDriver, freshTable())) ==
        error(df.write.parquet(Spool.dir("graft-drivercommit-job") + "/out")))
    }
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
