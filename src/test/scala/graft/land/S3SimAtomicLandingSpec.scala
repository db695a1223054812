package graft.land

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.queries.Spool

/** The full ACID multi-writer suite running against [[NoRenameFs]] — a
  * store with S3 semantics: no overwriting rename, non-atomic
  * copy-based rename, atomic create-if-absent, whole-object-PUT
  * visibility. This is the environment the reference's landing zone
  * actually lives in (its raw zone is S3,
  * `/root/reference/ingestion/dataIngestionUtils.py:117-118,196-232`);
  * passing here proves the commit protocol needs nothing from the store
  * beyond a conditional-put-style pointer write. */
class S3SimAtomicLandingSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    val hc = s.sparkContext.hadoopConfiguration
    hc.set("fs.nors3.impl", classOf[NoRenameFs].getName)
    hc.set(PointerStore.NoRenameSchemesKey,
      PointerStore.DefaultNoRenameSchemes + ",nors3")
    s
  }

  private def freshTable(): String =
    "nors3://" + Spool.dir("graft-s3sim") + "/t"

  private def localPath(table: String, parts: String*): java.nio.file.Path =
    java.nio.file.Paths.get(table.stripPrefix("nors3://"),
      parts: _*)

  test("the PUT pointer store is selected for the no-rename scheme") {
    val table = freshTable()
    val p = new org.apache.hadoop.fs.Path(s"$table/_CURRENT")
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    assert(fs.isInstanceOf[NoRenameFs])
    assert(PointerStore.forPointer(fs, conf, p).isInstanceOf[PointerStore.Put])
  }

  test("commit, overwrite, append and read all work without any overwriting rename") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    assert(AtomicLanding.commit(nation, table) == 0L)
    assert(AtomicLanding.commit(nation.limit(3), table) == 1L) // overwrite: pointer REPLACED
    assert(AtomicLanding.read(spark, table).count() == 3)
    assert(AtomicLanding.commit(nation.limit(5), table, append = true) == 2L)
    assert(AtomicLanding.read(spark, table).count() == 8)
    // time travel still works
    assert(AtomicLanding.readVersion(spark, table, 1L).count() == 3)
  }

  test("a crash before publish loses nothing: readers keep the old snapshot") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    AtomicLanding.commit(nation.limit(4), table)
    intercept[RuntimeException] {
      AtomicLanding.commit(nation.limit(1), table,
        beforePublish = () => throw new RuntimeException("kill -9"))
    }
    assert(AtomicLanding.currentVersion(table).contains(0L))
    assert(AtomicLanding.read(spark, table).count() == 4)
    val removed = AtomicLanding.vacuum(table)
    assert(removed.exists(_.contains("/data/"))) // the orphaned kill-9 dir
    assert(AtomicLanding.read(spark, table).count() == 4)
  }

  test("optimistic concurrency on the no-rename store: parallel appenders all commit, none lost") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    AtomicLanding.commit(nation.limit(1), table) // v0
    val futures = (1 to 4).map { i =>
      Future {
        (1 to 3).map { _ =>
          AtomicLanding.commit(nation.limit(i), table, append = true)
        }
      }
    }
    val versions = Await.result(Future.sequence(futures), 120.seconds).flatten
    assert(versions.toSet.size == 12)
    assert(AtomicLanding.currentVersion(table).contains(12L))
    assert(AtomicLanding.read(spark, table).count() == 1L + 3L * 10L)
  }

  test("exactly-once streaming sink holds on the no-rename store") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    val sink = AtomicLanding.streamSink(table)
    sink(nation.limit(2), 0L)
    sink(nation.limit(3), 1L)
    assert(AtomicLanding.read(spark, table).count() == 5)
    assert(AtomicLanding.lastBatchId(table).contains(1L))
    // crash-replay of the last unacknowledged batch: skipped, not doubled
    sink(nation.limit(3), 1L)
    assert(AtomicLanding.read(spark, table).count() == 5)
    assert(AtomicLanding.currentVersion(table).contains(1L))
    // the stream resumes past the replay
    sink(nation.limit(1), 2L)
    assert(AtomicLanding.read(spark, table).count() == 6)
    // compaction on the no-rename store keeps the batch watermark
    AtomicLanding.compact(spark, table)
    assert(AtomicLanding.lastBatchId(table).contains(2L))
    sink(nation.limit(4), 2L) // replay after compaction still skipped
    assert(AtomicLanding.read(spark, table).count() == 6)
  }

  test("a slot poisoned by a dead writer fails loudly; vacuum heals it") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    AtomicLanding.commit(nation.limit(2), table) // v0
    java.nio.file.Files.createDirectories(localPath(table, "manifests"))
    java.nio.file.Files.write(localPath(table, "manifests", "m-0000000001"),
      "data/zombie".getBytes("UTF-8"))
    val ex = intercept[IllegalArgumentException] {
      AtomicLanding.commit(nation.limit(3), table, maxConflictWaitMs = 200L)
    }
    assert(ex.getMessage.contains("vacuum"))
    assert(AtomicLanding.vacuum(table).exists(_.contains("m-0000000001")))
    assert(AtomicLanding.commit(nation.limit(3), table) == 1L)
    assert(AtomicLanding.read(spark, table).count() == 3L)
  }
}
