package graft.stream

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.files.FileRelay
import graft.queries.Spool

class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def manager(dir: String) =
    new LocalCheckpointFileManager(new Path(dir), new Configuration())

  private def names(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).fold(Set.empty[String])(_.toSet)

  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)

  /** Write `body` through `createAtomic`, leaving the stream open. */
  private def writeOpen(fm: LocalCheckpointFileManager, p: String, body: String,
      overwrite: Boolean) = {
    val out = fm.createAtomic(new Path(p), overwrite)
    out.write(body.getBytes(StandardCharsets.UTF_8))
    out
  }

  test("close publishes the whole file; until then only a hidden temp file exists") {
    val dir = Spool.dir("graft-ckfm")
    val fm = manager(dir)
    val body = "v1\n" + "x" * 100000
    val out = writeOpen(fm, s"$dir/offsets/0", body, overwrite = false)
    assert(!fm.exists(new Path(s"$dir/offsets/0")))
    assert(names(s"$dir/offsets").forall(n => n.startsWith(".0.") && n.endsWith(".tmp")))
    out.close()
    out.close() // a second close is a no-op
    assert(read(s"$dir/offsets/0") == body)
    assert(names(s"$dir/offsets") == Set("0"), "no temp file and no .crc sidecar")
  }

  test("cancel leaves neither the target nor the temp file") {
    val dir = Spool.dir("graft-ckfm")
    val fm = manager(dir)
    val out = writeOpen(fm, s"$dir/1.delta", "partial", overwrite = true)
    out.cancel()
    out.close() // close after cancel publishes nothing
    assert(names(dir).isEmpty)
  }

  test("without overwriteIfPossible an existing target throws and keeps its bytes") {
    val dir = Spool.dir("graft-ckfm")
    val fm = manager(dir)
    writeOpen(fm, s"$dir/commits/3", "first", overwrite = false).close()
    val out = writeOpen(fm, s"$dir/commits/3", "second", overwrite = false)
    intercept[FileAlreadyExistsException](out.close())
    out.cancel() // what HDFSMetadataLog does next
    assert(read(s"$dir/commits/3") == "first")
    assert(names(s"$dir/commits") == Set("3"))
    // with it, the target is replaced
    writeOpen(fm, s"$dir/commits/3", "third", overwrite = true).close()
    assert(read(s"$dir/commits/3") == "third")
  }

  test("list hides Hadoop's .crc sidecars, and delete and overwrite remove them") {
    val dir = Spool.dir("graft-ckfm")
    val local = FileSystem.getLocal(new Configuration())
    for (n <- Seq("1.delta", "2.delta")) {
      val o = local.create(new Path(s"$dir/state/$n"))
      o.write(1); o.close()
    }
    assert(names(s"$dir/state") ==
      Set("1.delta", "2.delta", ".1.delta.crc", ".2.delta.crc"))
    val fm = manager(dir)
    assert(fm.list(new Path(s"$dir/state")).map(_.getPath.getName).toSet ==
      Set("1.delta", "2.delta"))
    fm.delete(new Path(s"$dir/state/1.delta"))
    writeOpen(fm, s"$dir/state/2.delta", "new", overwrite = true).close()
    assert(names(s"$dir/state") == Set("2.delta"))
    // the checksummed file system reads the overwritten file
    val in = local.open(new Path(s"$dir/state/2.delta"))
    try assert(new String(in.readAllBytes(), StandardCharsets.UTF_8) == "new")
    finally in.close()
  }

  test("file: goes through NIO; another scheme gets Spark's default manager") {
    assert(manager(Spool.dir("graft-ckfm")).underlying.getClass.getName
      .startsWith(classOf[LocalCheckpointFileManager].getName))
    val conf = new Configuration()
    conf.set("fs.nors3.impl", "graft.land.NoRenameFs")
    conf.set("fs.nors3.impl.disable.cache", "true")
    conf.set(LocalCheckpointFileManager.ClassKey, classOf[LocalCheckpointFileManager].getName)
    // nors3 has no FileContext, so Spark falls back to its FileSystem manager
    val other = new LocalCheckpointFileManager(
      new Path(s"nors3://${Spool.dir("graft-ckfm")}/ckpt"), conf)
    assert(other.underlying.isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("a stateful stream checkpointed under Spark's default manager resumes under this one") {
    val t = Spool.dir("graft-ckfm-resume")
    val relay = new FileRelay()
    val schema = StructType(Seq(
      StructField("userId", LongType), StructField("eventId", LongType)))
    def run(s: SparkSession): (Set[(Long, Long, Long)], Long) = {
      import s.implicits._
      val emitted = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      val q = Stateful.runningUserTotals(
          s.readStream.schema(schema).json(s"$t/in").as[Stateful.UserEvent]).toDF()
        .writeStream
        .foreachBatch { (df: Dataset[Row], _: Long) =>
          val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          emitted.synchronized(emitted ++= rows)
          ()
        }
        .outputMode("update").option("checkpointLocation", s"$t/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      (emitted.synchronized(emitted.toSet), q.recentProgress.map(_.numInputRows).sum)
    }

    relay.writeUtf8(new Path(s"$t/in/b1.json"),
      """{"userId":1,"eventId":10}
        |{"userId":1,"eventId":11}
        |{"userId":2,"eventId":20}""".stripMargin)
    val legacy = spark.newSession()
    legacy.conf.set(LocalCheckpointFileManager.ClassKey,
      classOf[FileContextBasedCheckpointFileManager].getName)
    assert(run(legacy) == (Set((1L, 2L, 11L), (2L, 1L, 20L)), 3L))
    assert(names(s"$t/ckpt/offsets").exists(_.endsWith(".crc")),
      "Spark's default manager wrote this checkpoint")

    relay.writeUtf8(new Path(s"$t/in/b2.json"),
      """{"userId":1,"eventId":12}
        |{"userId":3,"eventId":30}""".stripMargin)
    // user 1's lifetime total continues from the old state store, and
    // only the two new rows are read
    assert(run(spark) == (Set((1L, 3L, 12L), (3L, 1L, 30L)), 2L))
  }
}
