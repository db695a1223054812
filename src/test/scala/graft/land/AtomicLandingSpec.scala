package graft.land

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.TestSpark
import graft.queries.Spool

class AtomicLandingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshTable(): String =
    Spool.dir("graft-acid") + "/t"

  test("commit publishes atomically; versions increment; append accumulates") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    assert(AtomicLanding.currentVersion(table).isEmpty)
    assert(AtomicLanding.commit(nation, table) == 0L)
    assert(AtomicLanding.commit(nation.limit(3), table) == 1L) // overwrite
    assert(AtomicLanding.read(spark, table).count() == 3)
    assert(AtomicLanding.commit(nation.limit(5), table, append = true) == 2L)
    assert(AtomicLanding.read(spark, table).count() == 8)
    assert(AtomicLanding.currentVersion(table).contains(2L))
  }

  test("a crash after staging but before publish loses NOTHING: readers keep the old snapshot") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    AtomicLanding.commit(nation, table)
    val before = AtomicLanding.read(spark, table).count()

    // kill-mid-write: die at the exact point the reference's
    // write-then-record ordering is vulnerable — data staged, not published
    for (app <- Seq(false, true)) {
      intercept[RuntimeException] {
        AtomicLanding.commit(nation.limit(1), table, append = app,
          beforePublish = () => throw new RuntimeException("kill -9"))
      }
      assert(AtomicLanding.currentVersion(table).contains(0L))
      assert(AtomicLanding.read(spark, table).count() == before)
    }

    // recovery: the next commit proceeds past the orphans and publishes
    val v = AtomicLanding.commit(nation.limit(5), table)
    assert(v == 1L)
    assert(AtomicLanding.read(spark, table).count() == 5)
  }

  test("vacuum removes aborted staging, unreachable data dirs and old manifests — never live data") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    AtomicLanding.commit(nation, table)
    // an aborted write that died mid-staging (no _SUCCESS, never moved)
    nation.limit(1).write.parquet(s"$table/.staging/died-mid-write")
    AtomicLanding.commit(nation.limit(2), table) // overwrite orphans v0's data

    val removed = AtomicLanding.vacuum(table)
    assert(removed.exists(_.contains(".staging")))
    assert(removed.exists(_.contains("/data/")))
    assert(removed.exists(_.contains("m-0000000000")))
    assert(AtomicLanding.read(spark, table).count() == 2) // live snapshot intact
    assert(AtomicLanding.vacuum(table).isEmpty)           // idempotent
  }

  test("uncommitted staging files are invisible to a concurrent reader") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    AtomicLanding.commit(nation.filter(col("n_nationkey") < 10), table)
    nation.write.parquet(s"$table/.staging/in-flight")
    assert(AtomicLanding.read(spark, table).count() ==
      nation.filter(col("n_nationkey") < 10).count())
  }

  test("streaming foreachBatch sink: every micro-batch lands as an atomic append") {
    val table = freshTable()
    val in = Spool.dir("graft-acid-stream")
    // three inbound files -> three micro-batches (maxFilesPerTrigger=1)
    (1 to 3).foreach { i =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(in, s"f$i.json"),
        (1 to 4).map(j => s"""{"k":${i * 10 + j}}""").mkString("\n"))
    }
    val q = spark.readStream
      .schema(StructType(Seq(StructField("k", LongType))))
      .option("maxFilesPerTrigger", 1)
      .json(in)
      .writeStream
      .foreachBatch(AtomicLanding.streamSink(table))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(AtomicLanding.read(spark, table).count() == 12)
    assert(AtomicLanding.currentVersion(table).contains(2L)) // 3 batches
    assert(AtomicLanding.lastBatchId(table).contains(2L))
  }

  test("merge upserts by key; time travel still reads the pre-merge snapshot") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    val v0 = AtomicLanding.commit(nation, table)
    val total = nation.count()

    // updates: rewrite nation 3's name, insert key 990
    import spark.implicits._
    val updates = Seq((3L, "RENAMED", 1L), (990L, "NEWLAND", 2L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .select(nation.columns.map {
        case c @ ("n_nationkey" | "n_name" | "n_regionkey") => col(c)
        case c => lit(null).cast(nation.schema(c).dataType).as(c)
      }: _*)
    val v1 = AtomicLanding.merge(updates, table, "n_nationkey")
    assert(v1 == v0 + 1)

    val now = AtomicLanding.read(spark, table)
    assert(now.count() == total + 1) // one insert, one in-place update
    assert(now.filter(col("n_nationkey") === 3).select("n_name")
      .head().getString(0) == "RENAMED")
    assert(now.filter(col("n_nationkey") === 990).count() == 1)

    // time travel: v0 still shows the original row and no insert
    val old = AtomicLanding.readVersion(spark, table, v0)
    assert(old.count() == total)
    assert(old.filter(col("n_nationkey") === 3).select("n_name")
      .head().getString(0) != "RENAMED")
  }

  test("merge refuses updates missing a live column unless told otherwise") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    AtomicLanding.commit(nation, table)
    import spark.implicits._
    // updates lack every column but (key, name) — a silent union would
    // NULL n_regionkey and n_comment out of the matched row
    val partial = Seq((3L, "RENAMED")).toDF("n_nationkey", "n_name")
    val ex = intercept[IllegalArgumentException](
      AtomicLanding.merge(partial, table, "n_nationkey"))
    assert(ex.getMessage.contains("allowMissingColumns"))
    assert(AtomicLanding.currentVersion(table).contains(0L)) // nothing published
    // the explicit opt-in does exactly the documented thing
    AtomicLanding.merge(partial, table, "n_nationkey", allowMissingColumns = true)
    val row = AtomicLanding.read(spark, table)
      .filter(col("n_nationkey") === 3).head()
    assert(row.getAs[String]("n_name") == "RENAMED")
    assert(row.isNullAt(row.fieldIndex("n_regionkey")))
  }

  test("the whole protocol runs through the Hadoop FS API: scheme-qualified file:// table") {
    val table = "file:" + freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    assert(AtomicLanding.commit(nation, table) == 0L)
    assert(AtomicLanding.commit(nation.limit(3), table, append = true) == 1L)
    assert(AtomicLanding.read(spark, table).count() == nation.count() + 3)
    intercept[RuntimeException] {
      AtomicLanding.commit(nation.limit(1), table,
        beforePublish = () => throw new RuntimeException("kill -9"))
    }
    assert(AtomicLanding.currentVersion(table).contains(1L))
    val removed = AtomicLanding.vacuum(table)
    assert(removed.exists(_.contains("/data/"))) // the orphaned kill-9 dir
    assert(AtomicLanding.read(spark, table).count() == nation.count() + 3)
  }

  test("an orphaned future manifest (writer hard-killed between manifest write and pointer swing) is unreadable") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    AtomicLanding.commit(nation, table)
    // simulate the hard kill: the v1 manifest landed on disk but the
    // process died before _CURRENT swung (an in-JVM failure would have
    // released the slot) — time travel must refuse the never-published v1
    java.nio.file.Files.write(
      java.nio.file.Paths.get(table, "manifests", "m-0000000001"),
      "data/never-published".getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      AtomicLanding.readVersion(spark, table, 1L)
    }
    assert(AtomicLanding.readVersion(spark, table, 0L).count() == nation.count())
  }

  test("optimistic concurrency: parallel appenders all commit, none lost") {
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
    // 12 concurrent appends -> 12 distinct versions, nothing overwritten
    assert(versions.toSet.size == 12)
    assert(AtomicLanding.currentVersion(table).contains(12L))
    // every appended row survived: 1 + 3*(1+2+3+4)
    assert(AtomicLanding.read(spark, table).count() == 1L + 3L * 10L)
  }

  test("compactSmall folds only the small-dir tail; big dirs are not rewritten") {
    val table = freshTable()
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    AtomicLanding.commit(docs.coalesce(1), table) // the big body
    val sink = AtomicLanding.streamSink(table)
    (0L to 4L).foreach(b => sink(docs.limit(2), b)) // small tail
    assert(AtomicLanding.liveDirCount(table) == 6)
    val rows = AtomicLanding.read(spark, table).count()

    // threshold between tail-dir size and body-dir size
    AtomicLanding.compactSmall(spark, table, smallBytes = 20 * 1024)
    assert(AtomicLanding.liveDirCount(table) == 2) // body + merged tail
    assert(AtomicLanding.read(spark, table).count() == rows)
    assert(AtomicLanding.lastBatchId(table).contains(4L)) // watermark kept
    // the big dir survived by NAME — it was never rewritten
    import scala.jdk.CollectionConverters._
    val manifest = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
        table, "manifests", f"m-${AtomicLanding.currentVersion(table).get}%010d"))
      .asScala.filterNot(_.startsWith("#"))
    val v0dirs = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(table, "manifests", "m-0000000000")).asScala
      .filterNot(_.startsWith("#"))
    assert(v0dirs.forall(manifest.contains))
    // idempotent: a second pass with one merged dir + one big dir is a no-op
    val v = AtomicLanding.currentVersion(table).get
    assert(AtomicLanding.compactSmall(spark, table, 20 * 1024) == v)
  }

  test("schema enforcement on append: no silent drops/retypes; evolution is explicit") {
    import spark.implicits._
    val table = freshTable()
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    AtomicLanding.commit(base, table)

    // dropping a live column is refused
    val dropEx = intercept[IllegalArgumentException] {
      AtomicLanding.commit(Seq(3L).toDF("id"), table, append = true)
    }
    assert(dropEx.getMessage.contains("drops live column"))
    // retyping a live column is refused
    val retypeEx = intercept[IllegalArgumentException] {
      AtomicLanding.commit(Seq((3, "c")).toDF("id", "name"), table, append = true)
    }
    assert(retypeEx.getMessage.contains("retypes"))
    // adding a column needs explicit opt-in...
    val evolved = Seq((3L, "c", 0.5)).toDF("id", "name", "score")
    val addEx = intercept[IllegalArgumentException] {
      AtomicLanding.commit(evolved, table, append = true)
    }
    assert(addEx.getMessage.contains("evolveSchema"))
    // ...and with it, merged reads surface the new column as null for old rows
    AtomicLanding.commit(evolved, table, append = true, evolveSchema = true)
    val merged = AtomicLanding.read(spark, table)
    assert(merged.columns.toSet == Set("id", "name", "score"))
    assert(merged.count() == 3)
    assert(merged.filter(col("score").isNull).count() == 2)

    // the evolved column is now LIVE: an append without it must fail —
    // enforcement reads the manifest schema, not one sampled footer
    val dropEvolved = intercept[IllegalArgumentException] {
      AtomicLanding.commit(Seq((4L, "d")).toDF("id", "name"), table, append = true)
    }
    assert(dropEvolved.getMessage.contains("score"))

    // tables written before schema lines existed: strip the line from
    // the live manifest — enforcement falls back to merged footers and
    // still catches the drop
    val v = AtomicLanding.currentVersion(table).get
    val mPath = java.nio.file.Paths.get(table, "manifests", f"m-$v%010d")
    val stripped = java.nio.file.Files.readAllLines(mPath)
    java.nio.file.Files.write(mPath,
      String.join("\n",
        stripped.stream.filter(l => !l.startsWith("# schema")).toArray(
          n => new Array[String](n)): _*).getBytes("UTF-8"))
    val legacy = intercept[IllegalArgumentException] {
      AtomicLanding.commit(Seq((5L, "e")).toDF("id", "name"), table, append = true)
    }
    assert(legacy.getMessage.contains("score"))
  }

  test("a default read keeps an evolved column whichever dir's path sorts first") {
    import spark.implicits._
    val table = freshTable()
    AtomicLanding.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), table)
    val old = AtomicLanding.dirsOfVersion(table, 0L).head
    AtomicLanding.commit(Seq((3L, "c", 0.5)).toDF("id", "name", "score"),
      table, append = true, evolveSchema = true)
    // commit dirs are random data/<uuid> names: put the pre-evolution dir
    // first in path order ('-' sorts below every hex digit), the layout
    // in which a one-footer schema sample misses `score`
    val first = "data/0-pre-evolution"
    java.nio.file.Files.move(java.nio.file.Paths.get(table, old),
      java.nio.file.Paths.get(table, first))
    val v = AtomicLanding.currentVersion(table).get
    val mPath = java.nio.file.Paths.get(table, "manifests", f"m-$v%010d")
    val text = new String(java.nio.file.Files.readAllBytes(mPath), "UTF-8")
    java.nio.file.Files.write(mPath,
      text.split("\n").map(l => if (l == old) first else l).mkString("\n")
        .getBytes("UTF-8"))
    assert(AtomicLanding.dirsOfVersion(table, v).sorted.head == first)

    for ((how, df) <- Seq(
        "read" -> AtomicLanding.read(spark, table),
        "readPruned" -> AtomicLanding.readPruned(spark, table, "id", 0L, 10L))) {
      assert(df.columns.toSeq == Seq("id", "name", "score"), how)
      val rows = df.orderBy("id").collect()
        .map(r => (r.getLong(0), Option(r.get(2)))).toSeq
      assert(rows == Seq((1L, None), (2L, None), (3L, Some(0.5))), how)
    }
  }

  test("append nullability: NARROWING into a relaxed live column is accepted, WIDENING is refused") {
    import org.apache.spark.sql.types._
    val table = freshTable()
    // live column relaxed the way a fold's parquet read-back leaves it:
    // nullable array elements
    val relaxed = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1L, Seq(1L, 2L))),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("xs", ArrayType(LongType, containsNull = true)))))
    AtomicLanding.commit(relaxed, table)
    // a fresh computation's STRICT array appends fine (narrowing)
    val strict = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(2L, Seq(3L))),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("xs", ArrayType(LongType, containsNull = false)))))
    AtomicLanding.commit(strict, table, append = true)
    assert(AtomicLanding.read(spark, table).count() == 2)

    // the reverse: strict live column, relaxed incoming — refused (the
    // recorded schema denies nulls the incoming rows may carry)
    val t2 = freshTable()
    AtomicLanding.commit(strict, t2)
    val widenEx = intercept[IllegalArgumentException] {
      AtomicLanding.commit(relaxed, t2, append = true)
    }
    assert(widenEx.getMessage.contains("retypes"))
  }

  test("a slot poisoned by a dead writer fails loudly; vacuum heals it") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    AtomicLanding.commit(nation.limit(2), table) // v0
    // hard-killed writer: reserved v1, never published, never cleaned up
    java.nio.file.Files.write(
      java.nio.file.Paths.get(table, "manifests", "m-0000000001"),
      "data/zombie".getBytes("UTF-8"))
    val ex = intercept[IllegalArgumentException] {
      AtomicLanding.commit(nation.limit(3), table, maxConflictWaitMs = 200L)
    }
    assert(ex.getMessage.contains("vacuum"))
    assert(AtomicLanding.vacuum(table).exists(_.contains("m-0000000001")))
    assert(AtomicLanding.commit(nation.limit(3), table) == 1L)
    assert(AtomicLanding.read(spark, table).count() == 3L)
  }

  test("merge and overwrite carry the exactly-once batch watermark forward") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    val sink = AtomicLanding.streamSink(table)
    sink(nation.limit(2), 0L)
    sink(nation.limit(3), 1L)

    // merge between the crash and the engine's replay of batch 1
    AtomicLanding.merge(nation.limit(1), table, "n_nationkey")
    assert(AtomicLanding.lastBatchId(table).contains(1L)) // watermark survives
    val afterMerge = AtomicLanding.read(spark, table).count()
    sink(nation.limit(3), 1L) // replayed batch must STILL be skipped
    assert(AtomicLanding.read(spark, table).count() == afterMerge)

    // a plain overwrite commit must not erase it either
    AtomicLanding.commit(nation.limit(4), table)
    assert(AtomicLanding.lastBatchId(table).contains(1L))
    sink(nation.limit(3), 1L)
    assert(AtomicLanding.read(spark, table).count() == 4)
  }

  test("replayed micro-batch is skipped: the sink is exactly-once, not at-least-once") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    val sink = AtomicLanding.streamSink(table)
    sink(nation.limit(2), 0L)
    sink(nation.limit(3), 1L)
    val before = AtomicLanding.read(spark, table).count()
    assert(before == 5)
    sink(nation.limit(3), 1L) // crash-recovery replay of batch 1
    assert(AtomicLanding.read(spark, table).count() == before) // unchanged
    sink(nation.limit(1), 2L) // the stream then moves on
    assert(AtomicLanding.read(spark, table).count() == 6)
    assert(AtomicLanding.lastBatchId(table).contains(2L))
  }

  test("compact collapses appended batches to one dir, keeps rows, batch watermark and replay-skip") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    val sink = AtomicLanding.streamSink(table)
    (0L to 3L).foreach(b => sink(nation.limit(2), b))
    assert(AtomicLanding.read(spark, table).count() == 8)

    AtomicLanding.compact(spark, table, numFiles = 1)
    val dataDirs = new java.io.File(s"$table/data").listFiles().count(_.isDirectory)
    assert(dataDirs == 5) // 4 batch dirs (pre-vacuum) + 1 compacted
    assert(AtomicLanding.read(spark, table).count() == 8) // rows intact
    assert(AtomicLanding.lastBatchId(table).contains(3L)) // watermark survives

    sink(nation.limit(2), 3L) // replay AFTER compaction: still skipped
    assert(AtomicLanding.read(spark, table).count() == 8)

    val removed = AtomicLanding.vacuum(table)
    assert(removed.count(_.contains("/data/")) == 4) // old batch dirs reclaimed
    assert(new java.io.File(s"$table/data").listFiles().count(_.isDirectory) == 1)
    assert(AtomicLanding.read(spark, table).count() == 8)
  }

  test("compact + vacuum preserve a schema-evolved column (no permanent loss)") {
    import spark.implicits._
    val table = freshTable()
    AtomicLanding.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), table)
    AtomicLanding.commit(Seq((3L, "c", 0.5)).toDF("id", "name", "score"),
      table, append = true, evolveSchema = true)

    // the compaction rewrite must read with merged schemas: the `score`
    // column lives ONLY in the newer data dir, and a single-footer
    // sample could drop it — permanently, once vacuum deletes the
    // original dirs
    AtomicLanding.compact(spark, table, numFiles = 1)
    AtomicLanding.vacuum(table)
    val df = AtomicLanding.read(spark, table)
    assert(df.columns.toSet == Set("id", "name", "score"))
    assert(df.filter(col("score") === 0.5).count() == 1)
    // the manifest schema still advertises the column, and enforcement
    // still protects it after the rewrite
    assert(AtomicLanding.liveSchema(spark, table).get.fieldNames.contains("score"))

    // compactSmall's fold path must survive evolution too
    val t2 = freshTable()
    AtomicLanding.commit(Seq((1L, "a")).toDF("id", "name"), t2)
    AtomicLanding.commit(Seq((2L, "b", 7L)).toDF("id", "name", "extra"),
      t2, append = true, evolveSchema = true)
    AtomicLanding.compactSmall(spark, t2, smallBytes = 1024 * 1024)
    AtomicLanding.vacuum(t2)
    val df2 = AtomicLanding.read(spark, t2)
    assert(df2.columns.toSet == Set("id", "name", "extra"))
    assert(df2.filter(col("extra") === 7L).count() == 1)
  }

  test("a rebase carries a concurrently-EVOLVED column into the recorded schema") {
    import spark.implicits._
    // an evolveSchema append riding a compaction's rebase: the carried
    // dir holds a column the rewrite's base snapshot never saw, and the
    // published manifest's schema line must record it — otherwise later
    // appends carrying the column fail enforcement while the recorded
    // schema silently drifts from the live data
    val table = freshTable()
    AtomicLanding.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), table)
    AtomicLanding.commit(Seq((3L, "c")).toDF("id", "name"), table, append = true)
    val v = AtomicLanding.compact(spark, table, numFiles = 1,
      beforeCommit = () => {
        AtomicLanding.commit(Seq((4L, "d", 0.5)).toDF("id", "name", "score"),
          table, append = true, evolveSchema = true); ()
      })
    assert(AtomicLanding.dirsOfVersion(table, v).size == 2) // fold + carried
    val sch = AtomicLanding.liveSchema(spark, table).get
    assert(sch.fieldNames.contains("score"),
      s"the evolved column must survive the rebase's schema line: $sch")
    // enforcement now accepts appends that carry the evolved column...
    AtomicLanding.commit(Seq((5L, "e", 1.5)).toDF("id", "name", "score"),
      table, append = true)
    // ...and the data is all there
    val df = AtomicLanding.read(spark, table)
    assert(df.count() == 5)
    assert(df.filter(col("score").isNotNull).count() == 2)
  }

  test("vacuum with a grace period spares a concurrent writer's live reservation and staged data") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    (1 to 3).foreach(i => AtomicLanding.commit(nation.limit(i), table)) // v0..v2
    // a concurrent writer mid-commit: data moved under data/, slot m-3
    // reserved, pointer not yet swung
    val wdir = java.nio.file.Paths.get(table, "data", "inflight-dir")
    java.nio.file.Files.createDirectories(wdir)
    java.nio.file.Files.write(wdir.resolve("part-0.parquet"), Array[Byte](1))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(table, "manifests", "m-0000000003"),
      "data/inflight-dir".getBytes("UTF-8"))

    val removed = AtomicLanding.vacuum(table, futureGraceMs = 60000L)
    // superseded snapshots ARE reclaimed (any age)...
    assert(removed.count(_.contains("/data/")) == 2)
    assert(removed.count(_.contains("/manifests/")) == 2)
    // ...but the live reservation and its data survive
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(table, "manifests", "m-0000000003")))
    assert(java.nio.file.Files.exists(wdir))
    assert(AtomicLanding.read(spark, table).count() == 3) // live snapshot intact

    // grace 0 = operator healing: the orphaned reservation is reclaimed
    val healed = AtomicLanding.vacuum(table)
    assert(healed.exists(_.contains("m-0000000003")))
    assert(healed.exists(_.contains("inflight-dir")))
  }

  test("a snapshot rewrite that a concurrent commit overtook fails instead of erasing it") {
    val table = freshTable()
    val nation = graft.Tables.t(spark, TestSpark.Sf0001, "nation")
    AtomicLanding.commit(nation.limit(2), table) // v0
    AtomicLanding.commit(nation.limit(3), table, append = true) // v1 — the "concurrent" append
    // a rewrite computed from snapshot v0 must NOT publish over v1
    val ex = intercept[java.util.ConcurrentModificationException] {
      AtomicLanding.commit(nation.limit(1), table, expectedVersion = Some(0L))
    }
    assert(ex.getMessage.contains("concurrent"))
    // the failed rewrite released its slot: the next commit takes v2
    assert(AtomicLanding.commit(nation.limit(4), table, append = true) == 2L)
    assert(AtomicLanding.read(spark, table).count() == 9)
  }

  test("mergePruned rewrites only range-touched dirs and matches merge()") {
    val docs = graft.Tables.t(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n"))
    // range-clustered layout: 4 disjoint key-range dirs
    def build(table: String): Unit = {
      AtomicLanding.commit(docs.filter(col("doc_id") < 125), table)
      Seq((125, 250), (250, 375), (375, 10000)).foreach { case (lo, hi) =>
        AtomicLanding.commit(
          docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
          table, append = true)
      }
    }
    val pruned = freshTable(); build(pruned)
    val full = freshTable(); build(full)
    val builtDirs = AtomicLanding.dirsOfVersion(pruned,
      AtomicLanding.currentVersion(pruned).get).toSet
    assert(builtDirs.size == 4)

    // a no-match update set (one fresh key outside every range) keeps
    // EVERY dir and only appends the insert
    val inserts = docs.filter(col("doc_id") === 1)
      .select(lit(88888L).as("doc_id"), col("source"), lit(-3L).as("n"))
    AtomicLanding.mergePruned(inserts, pruned, "doc_id")
    AtomicLanding.merge(inserts, full, "doc_id")
    val preDirs = AtomicLanding.dirsOfVersion(pruned,
      AtomicLanding.currentVersion(pruned).get).toSet
    assert((builtDirs -- preDirs).isEmpty, "a no-match merge must rewrite nothing")
    assert(preDirs.size == 5) // 4 carried + the insert-only dir

    // updates confined to the first dir's range + one insert far outside
    // every range (99999 also misses the [88888] insert dir)
    val updates = docs.filter(col("doc_id") < 50)
      .select(col("doc_id"), col("source"), lit(-1L).as("n"))
      .unionByName(docs.filter(col("doc_id") === 0)
        .select(lit(99999L).as("doc_id"), col("source"), lit(-2L).as("n")))
    AtomicLanding.mergePruned(updates, pruned, "doc_id")
    AtomicLanding.merge(updates, full, "doc_id")

    // row-identical to the unpruned merge
    def canon(t: String) = AtomicLanding.read(spark, t)
      .select("doc_id", "source", "n")
      .as[(Long, String, Long)](org.apache.spark.sql.Encoders
        .tuple(org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong))
      .collect().sorted.toSeq
    assert(canon(pruned) === canon(full))

    // and only the touched range dir was rewritten: the other three
    // range dirs plus the insert dir were CARRIED
    val postDirs = AtomicLanding.dirsOfVersion(pruned,
      AtomicLanding.currentVersion(pruned).get).toSet
    assert((preDirs intersect postDirs).size == 4,
      s"expected 4 carried dirs, got ${preDirs intersect postDirs}")
    assert(postDirs.size == 5) // 4 carried + 1 rewrite of the touched dir
    assert(AtomicLanding.read(spark, pruned)
      .filter(col("doc_id") === 88888L).count() == 1)
  }

  test("mergePruned plans MANIFEST-ONLY once a table carries range lines") {
    val docs = graft.Tables.t(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("n"))
    val table = freshTable()
    // legacy build: plain commits record no range lines (no statsKeys,
    // nothing tracked yet) — the pre-upgrade state
    AtomicLanding.commit(docs.filter(col("doc_id") < 200), table)
    AtomicLanding.commit(docs.filter(col("doc_id") >= 200), table, append = true)
    assert(AtomicLanding.liveRanges(table).isEmpty,
      "plain commits must not record ranges (legacy manifests)")

    def upd(tag: Long) = docs.filter(col("doc_id") < 30)
      .select(col("doc_id"), col("source"), lit(tag).as("n"))

    // first merge on a legacy table: planner falls back to footers
    // (counter moves) and the published manifest is fully range-lined
    val before1 = AtomicLanding.planningFooterFiles.get()
    AtomicLanding.mergePruned(upd(-1L), table, "doc_id")
    assert(AtomicLanding.planningFooterFiles.get() > before1,
      "legacy dirs must be planned from footers exactly once")
    val ranged = AtomicLanding.liveRanges(table)
    val live = AtomicLanding.dirsOfVersion(table,
      AtomicLanding.currentVersion(table).get)
    assert(live.forall(d => ranged.contains((d, "doc_id"))),
      s"first merge must upgrade every live dir: $ranged vs $live")

    // second merge: ZERO planning footer reads — the upgrade claim
    val before2 = AtomicLanding.planningFooterFiles.get()
    AtomicLanding.mergePruned(upd(-2L), table, "doc_id")
    assert(AtomicLanding.planningFooterFiles.get() == before2,
      "merge planning on an upgraded table must read no footers")

    // an APPEND maintains the upgrade with no caller opt-in...
    AtomicLanding.commit(docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 50000).as("doc_id"), col("source"),
        lit(-9L).as("n")), table, append = true)
    val live3 = AtomicLanding.dirsOfVersion(table,
      AtomicLanding.currentVersion(table).get)
    assert(live3.forall(d =>
      AtomicLanding.liveRanges(table).contains((d, "doc_id"))),
      "appends to an upgraded table must range-line the new dir")
    // ...so the NEXT merge is still manifest-only
    val before3 = AtomicLanding.planningFooterFiles.get()
    AtomicLanding.mergePruned(upd(-3L), table, "doc_id")
    assert(AtomicLanding.planningFooterFiles.get() == before3)
    // and rows stayed correct throughout
    assert(AtomicLanding.read(spark, table)
      .filter(col("doc_id") < 30).select("n").distinct()
      .as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSeq == Seq(-3L))
  }

  test("mergePruned prunes on STRING keys (unsigned byte order)") {
    val docs = graft.Tables.t(spark, TestSpark.Sf0001, "documents")
      .select(format_string("id-%05d", col("doc_id")).as("sid"),
        col("source"), length(col("text")).cast("long").as("n"))
    def build(table: String): Unit = {
      AtomicLanding.commit(docs.filter(col("sid") < "id-00125"), table)
      Seq(("id-00125", "id-00250"), ("id-00250", "id-00375"),
          ("id-00375", "id-99999")).foreach { case (lo, hi) =>
        AtomicLanding.commit(
          docs.filter(col("sid") >= lo && col("sid") < hi),
          table, append = true)
      }
    }
    val pruned = freshTable(); build(pruned)
    val full = freshTable(); build(full)
    val preDirs = AtomicLanding.dirsOfVersion(pruned,
      AtomicLanding.currentVersion(pruned).get).toSet
    assert(preDirs.size == 4)

    // updates confined to the FIRST dir's string range + one insert
    // beyond every range
    val updates = docs.filter(col("sid") < "id-00050")
      .select(col("sid"), col("source"), lit(-1L).as("n"))
      .unionByName(docs.limit(1)
        .select(lit("zz-insert").as("sid"), col("source"), lit(-2L).as("n")))
    AtomicLanding.mergePruned(updates, pruned, "sid")
    AtomicLanding.merge(updates, full, "sid")

    def canon(t: String) = AtomicLanding.read(spark, t)
      .select("sid", "source", "n")
      .as[(String, String, Long)](org.apache.spark.sql.Encoders
        .tuple(org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong))
      .collect().sorted.toSeq
    assert(canon(pruned) === canon(full))

    // three of the four string-range dirs carried through
    val postDirs = AtomicLanding.dirsOfVersion(pruned,
      AtomicLanding.currentVersion(pruned).get).toSet
    assert((preDirs intersect postDirs).size == 3,
      s"expected 3 carried dirs, got ${(preDirs intersect postDirs).size}")
    // and the manifest now carries STRING-typed range lines
    assert(AtomicLanding.liveRanges(pruned).values.forall(_._1 == "string"))
  }

  test("mergePruned REBASES over a concurrent disjoint append: both commits survive") {
    val docs = graft.Tables.t(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("n"))
    def build(table: String): Unit = {
      // statsKeys upgrades the table from the first commit, so every
      // dir — including the concurrent append's — carries a range line
      AtomicLanding.commit(docs.filter(col("doc_id") < 200), table,
        batchId = Some(5L), statsKeys = Seq("doc_id"))
      AtomicLanding.commit(docs.filter(col("doc_id") >= 200), table,
        append = true)
    }
    val pruned = freshTable(); build(pruned)
    val serial = freshTable(); build(serial)

    val updates = docs.filter(col("doc_id") < 50)
      .select(col("doc_id"), col("source"), lit(-1L).as("n"))
    // the concurrent append's keys (10000+) are DISJOINT from every
    // update key, and it advances the stream watermark to batch 7
    val late = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 10000L).as("doc_id"), col("source"),
        lit(-7L).as("n"))

    // pruned: the append lands INSIDE the merge's race window (after
    // planning read snapshot v1, before the commit) — the rebase path
    val v = AtomicLanding.mergePruned(updates, pruned, "doc_id",
      beforeCommit = () =>
        { AtomicLanding.commit(late, pruned, append = true, batchId = Some(7L)); () })
    assert(v == 3L, "append took v2; the rebased merge publishes v3")

    // serial: append first, then the same merge — the serialization the
    // rebase must be row-identical to
    AtomicLanding.commit(late, serial, append = true, batchId = Some(7L))
    AtomicLanding.mergePruned(updates, serial, "doc_id")
    def canon(t: String) = AtomicLanding.read(spark, t)
      .select("doc_id", "source", "n")
      .as[(Long, String, Long)](org.apache.spark.sql.Encoders
        .tuple(org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong))
      .collect().sorted.toSeq
    assert(canon(pruned) === canon(serial))

    // the appended dir was CARRIED into the rebased manifest verbatim
    val appendedDir = (AtomicLanding.dirsOfVersion(pruned, 2L).toSet --
      AtomicLanding.dirsOfVersion(pruned, 1L).toSet).head
    assert(AtomicLanding.dirsOfVersion(pruned, 3L).contains(appendedDir))
    // the untouched range dir (>= 200) carried too: only dir 0 rewrote
    assert((AtomicLanding.dirsOfVersion(pruned, 1L).toSet intersect
      AtomicLanding.dirsOfVersion(pruned, 3L).toSet).size == 1)
    // the rebase kept the append's NEWER batch watermark (a stale one
    // would double-commit a replayed streaming batch)
    assert(AtomicLanding.lastBatchId(pruned).contains(7L))
    // and the carried dir kept its range line (manifest-only planning
    // survives the rebase)
    assert(AtomicLanding.liveRanges(pruned).contains((appendedDir, "doc_id")))
  }

  test("compaction REBASES over a concurrent append: the micro-batch survives the fold") {
    // the maintenance-starvation fix: on a busy streaming table some
    // micro-batch always lands during the fold, and before the rebase
    // every such compact failed with ConcurrentModificationException
    val docs = graft.Tables.t(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("n"))
    val table = freshTable()
    AtomicLanding.commit(docs.filter(col("doc_id") < 100), table,
      batchId = Some(3L))
    (1 to 3).foreach { i =>
      AtomicLanding.commit(
        docs.filter(col("doc_id") >= i * 100 && col("doc_id") < (i + 1) * 100),
        table, append = true)
    }
    val preCount = AtomicLanding.read(spark, table).count()
    val late = docs.filter(col("doc_id") >= 400 && col("doc_id") < 420)
    val lateCount = late.count()

    // full compact with a concurrent append (carrying a NEWER stream
    // watermark) landing inside the race window
    val v = AtomicLanding.compact(spark, table, numFiles = 1,
      beforeCommit = () =>
        { AtomicLanding.commit(late, table, append = true, batchId = Some(9L)); () })
    assert(AtomicLanding.read(spark, table).count() == preCount + lateCount,
      "the concurrent micro-batch must survive the fold")
    // the fold collapsed the 4 pre-compact dirs to 1; the appended dir rode along
    assert(AtomicLanding.dirsOfVersion(table, v).size == 2)
    // the rebase carried the append's newer exactly-once watermark
    assert(AtomicLanding.lastBatchId(table).contains(9L))

    // compactSmall: the appended dir joins the small tail for the NEXT fold
    val late2 = docs.filter(col("doc_id") >= 420 && col("doc_id") < 440)
    val v2 = AtomicLanding.compactSmall(spark, table, smallBytes = 512L * 1024,
      beforeCommit = () =>
        { AtomicLanding.commit(late2, table, append = true); () })
    assert(AtomicLanding.read(spark, table).count() ==
      preCount + lateCount + late2.count())
    assert(AtomicLanding.currentVersion(table).contains(v2))
  }

  test("mergePruned still FAILS when the concurrent append may hold an update key") {
    val docs = graft.Tables.t(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("n"))
    val table = freshTable()
    AtomicLanding.commit(docs.filter(col("doc_id") < 200), table,
      statsKeys = Seq("doc_id"))
    val updates = docs.filter(col("doc_id") < 50)
      .select(col("doc_id"), col("source"), lit(-1L).as("n"))
    // the concurrent append OVERLAPS the update keys (doc_id < 10):
    // carrying it forward would leave matched rows un-updated, so the
    // publish must fail for the caller to retry
    val overlapping = docs.filter(col("doc_id") < 10)
      .select(col("doc_id"), col("source"), lit(-7L).as("n"))
    val ex = intercept[java.util.ConcurrentModificationException] {
      AtomicLanding.mergePruned(updates, table, "doc_id",
        beforeCommit = () =>
          { AtomicLanding.commit(overlapping, table, append = true); () })
    }
    assert(ex.getMessage.contains("concurrent"))
    // the append survived untouched; the failed merge left no new version
    assert(AtomicLanding.currentVersion(table).contains(1L))
    assert(AtomicLanding.read(spark, table)
      .filter(col("n") === -7L).count() == 10)
  }

  test("deletePruned rewrites only range-touched dirs; a provable no-op publishes nothing") {
    val docs = graft.Tables.t(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n"))
    val table = freshTable()
    // statsKeys upgrades the table from the first commit, so every
    // dir carries a range line and planning is manifest-only
    AtomicLanding.commit(docs.filter(col("doc_id") < 125), table,
      statsKeys = Seq("doc_id"))
    Seq((125, 250), (250, 375), (375, 10000)).foreach { case (lo, hi) =>
      AtomicLanding.commit(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        table, append = true)
    }
    val v0 = AtomicLanding.currentVersion(table).get
    val dirs0 = AtomicLanding.dirsOfVersion(table, v0).toSet
    val total = AtomicLanding.read(spark, table).count()

    // keys outside every recorded range: a provable no-op — no rewrite,
    // no new version, nothing staged
    val ghost = docs.filter(col("doc_id") === 0)
      .select(lit(77777L).as("doc_id"))
    assert(AtomicLanding.deletePruned(ghost, table, "doc_id") == v0)
    assert(AtomicLanding.currentVersion(table).contains(v0))

    // victims confined to the second segment: ONE dir rewrites, three carry
    val victims = docs.filter(col("doc_id") >= 130 && col("doc_id") < 200)
      .select(col("doc_id"))
    val nVictims = victims.count()
    assert(nVictims > 0)
    val v1 = AtomicLanding.deletePruned(victims, table, "doc_id")
    assert(v1 > v0)
    val live = AtomicLanding.read(spark, table)
    assert(live.count() == total - nVictims)
    assert(live.join(victims, Seq("doc_id"), "left_semi").count() == 0,
      "every victim key must be gone from the live snapshot")
    val dirs1 = AtomicLanding.dirsOfVersion(table, v1).toSet
    assert((dirs0 intersect dirs1).size == 3,
      s"three untouched range dirs must carry verbatim, got ${dirs0 intersect dirs1}")
    assert(dirs1.size == 4)
    // logical-then-physical: time travel still serves the pre-delete
    // snapshot until vacuum reclaims it
    assert(AtomicLanding.readVersion(spark, table, v0).count() == total)
  }

  test("deletePruned: an emptied segment stays readable; a disjoint concurrent append rides the rebase; overlap fails") {
    val docs = graft.Tables.t(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n"))
    val table = freshTable()
    AtomicLanding.commit(docs.filter(col("doc_id") < 125), table,
      statsKeys = Seq("doc_id"))
    AtomicLanding.commit(
      docs.filter(col("doc_id") >= 125 && col("doc_id") < 250),
      table, append = true)
    val total = AtomicLanding.read(spark, table).count()

    // wipe the ENTIRE second segment: the rewritten dir is empty but
    // must stay schema-bearing and readable
    val seg = docs.filter(col("doc_id") >= 125 && col("doc_id") < 250)
      .select(col("doc_id"))
    val nSeg = seg.count()
    AtomicLanding.deletePruned(seg, table, "doc_id")
    assert(AtomicLanding.read(spark, table).count() == total - nSeg)
    assert(AtomicLanding.read(spark, table)
      .filter(col("doc_id") >= 125 && col("doc_id") < 250).count() == 0)

    // a concurrent append with keys DISJOINT from the victims rides the
    // rebase: both the delete and the append survive one publish
    val late = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 10000L).as("doc_id"), col("source"),
        lit(-7L).as("n"))
    val victims = docs.filter(col("doc_id") < 50).select(col("doc_id"))
    AtomicLanding.deletePruned(victims, table, "doc_id",
      beforeCommit = () =>
        { AtomicLanding.commit(late, table, append = true); () })
    val live = AtomicLanding.read(spark, table)
    assert(live.filter(col("n") === -7L).count() == 10,
      "the ridden append's rows must survive the delete's publish")
    assert(live.filter(col("doc_id") < 50).count() == 0)

    // an OVERLAPPING concurrent append refuses the rebase: carrying it
    // would resurrect victim keys, so the publish must fail loudly
    val resurrecting = docs.filter(col("doc_id") >= 60 && col("doc_id") < 70)
      .select(col("doc_id"), col("source"), lit(-8L).as("n"))
    val vBefore = AtomicLanding.currentVersion(table).get
    val ex = intercept[java.util.ConcurrentModificationException] {
      AtomicLanding.deletePruned(
        docs.filter(col("doc_id") >= 60 && col("doc_id") < 70)
          .select(col("doc_id")),
        table, "doc_id",
        beforeCommit = () =>
          { AtomicLanding.commit(resurrecting, table, append = true); () })
    }
    assert(ex.getMessage.contains("concurrent"))
    // the append survived; the refused delete published nothing on top
    assert(AtomicLanding.currentVersion(table).contains(vBefore + 1))
    assert(AtomicLanding.read(spark, table)
      .filter(col("n") === -8L).count() == 10)
  }

  test("readPruned skips whole dirs from the manifest; rangeless dirs scan conservatively") {
    val docs = graft.Tables.t(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("source"))
    val table = freshTable()
    AtomicLanding.commit(docs.filter(col("doc_id") < 125), table,
      statsKeys = Seq("doc_id"))
    Seq((125, 250), (250, 375), (375, 10000)).foreach { case (lo, hi) =>
      AtomicLanding.commit(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        table, append = true)
    }
    // a narrow interval inside the second segment plans exactly one dir
    assert(AtomicLanding.planPrunedDirs(table, "doc_id", 130L, 240L).size == 1)
    // spanning two segments plans two
    assert(AtomicLanding.planPrunedDirs(table, "doc_id", 100L, 140L).size == 2)
    // outside every range plans zero, and the read is empty but typed
    assert(AtomicLanding.planPrunedDirs(table, "doc_id", 99990L, 99999L).isEmpty)
    val empty = AtomicLanding.readPruned(spark, table, "doc_id", 99990L, 99999L)
    assert(empty.count() == 0 && empty.columns.contains("source"))
    // row-identical to the unpruned filtered read
    val a = AtomicLanding.readPruned(spark, table, "doc_id", 130L, 240L)
      .orderBy("doc_id").collect().toSeq
    val b = AtomicLanding.read(spark, table)
      .filter(col("doc_id").between(130L, 240L))
      .orderBy("doc_id").collect().toSeq
    assert(a == b && a.nonEmpty)
    // a rangeless dir (appended to a table that tracks no key for it —
    // fresh table, no statsKeys) is conservatively scanned
    val legacy = freshTable()
    AtomicLanding.commit(docs.filter(col("doc_id") < 100), legacy)
    AtomicLanding.commit(docs.filter(col("doc_id") >= 100), legacy, append = true)
    assert(AtomicLanding.planPrunedDirs(legacy, "doc_id", 0L, 1L).size == 2)
    assert(AtomicLanding.readPruned(spark, legacy, "doc_id", 0L, 1L).count() ==
      docs.filter(col("doc_id").between(0L, 1L)).count())
    // a probe that cannot parse against a long-typed recorded range
    // degrades conservatively (every dir included), not with a
    // NumberFormatException — the statless-dir posture
    assert(AtomicLanding.planPrunedDirs(table, "doc_id", "abc", "xyz")
      .size == 4)
  }

  test("vacuum retainVersions keeps a time-travel window; everything older reclaims") {
    val docs = graft.Tables.t(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("source"))
    val table = freshTable()
    AtomicLanding.commit(docs.filter(col("doc_id") % 4 === 0), table)  // v0
    (1 to 2).foreach(i => AtomicLanding.commit(                        // v1, v2
      docs.filter(col("doc_id") % 4 === i), table, append = true))
    AtomicLanding.compact(spark, table, numFiles = 1)                  // v3
    val counts = (0L to 3L)
      .map(v => AtomicLanding.readVersion(spark, table, v).count())
    val removed = AtomicLanding.vacuum(table, retainVersions = 2)
    assert(removed.nonEmpty)
    // the retained window still time-travels, bit-for-bit
    for (v <- 1L to 3L)
      assert(AtomicLanding.readVersion(spark, table, v).count() == counts(v.toInt),
        s"version $v must stay readable inside the retention window")
    // outside the window: the manifest is gone
    intercept[IllegalArgumentException] {
      AtomicLanding.readVersion(spark, table, 0L)
    }
    // a later full vacuum still collapses to the live snapshot only
    AtomicLanding.vacuum(table)
    intercept[IllegalArgumentException] {
      AtomicLanding.readVersion(spark, table, 2L)
    }
    assert(AtomicLanding.read(spark, table).count() == counts(3))
  }

  test("the batch watermark is a MONOTONE high-water mark; writer channels are independent and survive rewrites") {
    val docs = graft.Tables.t(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("source"))
    val t = freshTable()
    // out-of-id-order commits never REGRESS the shared mark: a
    // regressed mark would make an already-committed batch's replay
    // re-append (the duplicate hole the multi-writer race exposed)
    AtomicLanding.commit(docs.filter(col("doc_id") < 50), t,
      batchId = Some(5L))
    AtomicLanding.commit(docs.filter(col("doc_id") >= 50 && col("doc_id") < 80),
      t, append = true, batchId = Some(3L))
    assert(AtomicLanding.lastBatchId(t).contains(5L),
      "a lower id landing later must not regress the high-water mark")

    // named channels: each writer's mark is its own monotone sequence,
    // invisible to the default channel and to other writers
    AtomicLanding.commit(docs.filter(col("doc_id") >= 80 && col("doc_id") < 90),
      t, append = true, batchId = Some(2L), writer = "a")
    AtomicLanding.commit(docs.filter(col("doc_id") >= 90 && col("doc_id") < 95),
      t, append = true, batchId = Some(7L), writer = "b")
    assert(AtomicLanding.lastBatchId(t).contains(5L),
      "named-channel commits must not advance the default mark")
    assert(AtomicLanding.lastBatchId(t, "a").contains(2L))
    assert(AtomicLanding.lastBatchId(t, "b").contains(7L))
    assert(AtomicLanding.lastBatchId(t, "never").isEmpty)
    // writer "a" regression attempt: monotone per channel too
    AtomicLanding.commit(docs.filter(col("doc_id") >= 95 && col("doc_id") < 97),
      t, append = true, batchId = Some(1L), writer = "a")
    assert(AtomicLanding.lastBatchId(t, "a").contains(2L))

    // a maintenance REWRITE (compaction) must carry every channel's
    // mark — erasing one would reopen the replay-duplicate hole for
    // that writer
    val rows = AtomicLanding.read(spark, t).count()
    AtomicLanding.compact(spark, t, numFiles = 1)
    assert(AtomicLanding.read(spark, t).count() == rows)
    assert(AtomicLanding.lastBatchId(t).contains(5L))
    assert(AtomicLanding.lastBatchId(t, "a").contains(2L))
    assert(AtomicLanding.lastBatchId(t, "b").contains(7L))
  }

  test("cloneShallow: zero-copy snapshot; clone and source diverge independently; pruned planning carries") {
    val docs = graft.Tables.t(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n"))
    val src = freshTable()
    AtomicLanding.commit(docs.filter(col("doc_id") < 250), src,
      statsKeys = Seq("doc_id"), batchId = Some(9L))
    AtomicLanding.commit(docs.filter(col("doc_id") >= 250), src,
      append = true)
    val total = AtomicLanding.read(spark, src).count()

    val cln = freshTable()
    assert(AtomicLanding.cloneShallow(src, cln) == 0L)
    // zero-copy: the clone holds NO data files of its own
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$cln/data")),
      "a shallow clone must copy no data")
    // same rows through the absolute references
    assert(AtomicLanding.read(spark, cln).count() == total)
    // the batch watermark did NOT carry (a clone is a fresh sink)
    assert(AtomicLanding.lastBatchId(src).contains(9L))
    assert(AtomicLanding.lastBatchId(cln).isEmpty)
    // refusing to clone onto an existing table
    intercept[IllegalArgumentException] {
      AtomicLanding.cloneShallow(src, cln)
    }

    // divergence 1: a pruned delete on the CLONE rewrites only the
    // touched absolute segment (range lines carried) — and the source
    // never changes
    val victims = docs.filter(col("doc_id") >= 10 && col("doc_id") < 40)
      .select(col("doc_id"))
    val nVictims = victims.count()
    AtomicLanding.deletePruned(victims, cln, "doc_id")
    assert(AtomicLanding.read(spark, cln).count() == total - nVictims)
    assert(AtomicLanding.read(spark, src).count() == total,
      "deleting on the clone must never touch the source")
    val clnDirs = AtomicLanding.dirsOfVersion(cln,
      AtomicLanding.currentVersion(cln).get)
    assert(clnDirs.exists(_.startsWith("/")) &&
      clnDirs.exists(!_.startsWith("/")),
      s"post-delete clone should mix carried absolute + local rewritten dirs: $clnDirs")

    // divergence 2: an append to the SOURCE is invisible to the clone
    AtomicLanding.commit(docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 90000L).as("doc_id"), col("source"),
          lit(-9L).as("n")),
      src, append = true)
    assert(AtomicLanding.read(spark, cln)
      .filter(col("doc_id") >= 90000L).count() == 0)

    // compact localizes the clone: every dir becomes local, rows keep
    AtomicLanding.compact(spark, cln, numFiles = 1)
    val localized = AtomicLanding.dirsOfVersion(cln,
      AtomicLanding.currentVersion(cln).get)
    assert(localized.forall(!_.startsWith("/")),
      s"compact must replace every absolute reference: $localized")
    assert(AtomicLanding.read(spark, cln).count() == total - nVictims)
  }

  test("clone-aware vacuum: source compact+vacuum spares a live clone's dirs; lapsed and vanished clones unpin") {
    val docs = graft.Tables.t(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n"))
    val src = freshTable()
    AtomicLanding.commit(docs.filter(col("doc_id") < 250), src,
      statsKeys = Seq("doc_id"))
    AtomicLanding.commit(docs.filter(col("doc_id") >= 250), src,
      append = true)
    val cln = freshTable()
    AtomicLanding.cloneShallow(src, cln)
    assert(AtomicLanding.registeredClones(src) == Seq(cln),
      "the clone must register itself at its source")
    val before = AtomicLanding.read(spark, cln)
      .orderBy("doc_id").collect().toSeq
    // the trade that used to tear the clone: the source rewrites its
    // whole body and vacuums — the clone's absolute refs must be
    // spared, not reclaimed as superseded garbage
    AtomicLanding.compact(spark, src, numFiles = 1)
    AtomicLanding.vacuum(src)
    assert(AtomicLanding.read(spark, cln)
      .orderBy("doc_id").collect().toSeq == before,
      "a live clone must read its snapshot bit-identically after " +
        "source compact+vacuum")
    // once the clone localizes (compact) and vacuums its own history,
    // its pins lapse and the source's next vacuum reclaims the dirs
    AtomicLanding.compact(spark, cln, numFiles = 1)
    AtomicLanding.vacuum(cln)
    val reclaimed = AtomicLanding.vacuum(src)
    assert(reclaimed.nonEmpty,
      "after the clone localizes, the spared source dirs must reclaim")
    assert(AtomicLanding.read(spark, cln)
      .orderBy("doc_id").collect().toSeq == before)
    assert(AtomicLanding.read(spark, src).count() == docs.count())

    // a clone that VANISHES entirely (dropped table) self-heals: the
    // next full vacuum deletes the dangling registration
    val cln2 = freshTable()
    AtomicLanding.cloneShallow(src, cln2)
    assert(AtomicLanding.registeredClones(src).contains(cln2))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(cln2), true)
    AtomicLanding.vacuum(src)
    assert(!AtomicLanding.registeredClones(src).contains(cln2),
      "a vanished clone's registration must self-heal away")
  }

  test("cloneShallow creation-window race: a source compact+vacuum landing inside the window is caught by the existence fence and the clone retries onto the fresh snapshot") {
    val docs = graft.Tables.t(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n"))
    val src = freshTable()
    AtomicLanding.commit(docs.filter(col("doc_id") < 250), src,
      statsKeys = Seq("doc_id"))
    AtomicLanding.commit(docs.filter(col("doc_id") >= 250), src,
      append = true)
    val expected = AtomicLanding.read(spark, src)
      .orderBy("doc_id").collect().toSeq
    val cln = freshTable()
    // the adversarial interleaving: AFTER the clone has read the source
    // manifest and reserved its m-0, but BEFORE its registration lands,
    // the source rewrites its whole body and vacuums — every dir the
    // reserved manifest references is reclaimed
    var fired = 0
    AtomicLanding.cloneAfterReserve = () => {
      fired += 1
      if (fired == 1) { // only the first pass races; the retry must win
        AtomicLanding.compact(spark, src, numFiles = 1)
        AtomicLanding.vacuum(src)
      }
    }
    try {
      assert(AtomicLanding.cloneShallow(src, cln) == 0L)
    } finally AtomicLanding.cloneAfterReserve = () => ()
    assert(fired >= 1, "the race seam must have fired")
    // the clone is readable and bit-identical to the source content —
    // served by the re-snapshotted (post-compact) dirs
    assert(AtomicLanding.read(spark, cln)
      .orderBy("doc_id").collect().toSeq == expected,
      "the retried clone must read the full source content")
    // and the retried registration pins the FRESH dirs: another source
    // maintenance pass must not tear the published clone
    AtomicLanding.compact(spark, src, numFiles = 2)
    AtomicLanding.vacuum(src)
    assert(AtomicLanding.read(spark, cln)
      .orderBy("doc_id").collect().toSeq == expected,
      "post-publish, the clone must survive further source maintenance")
  }

  test("a clone of a clone keeps second-hand absolute refs verbatim; string-key deletePruned prunes in byte order") {
    val docs = graft.Tables.t(spark, TestSpark.Sf0001, "documents")
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n"))
    val src = freshTable()
    AtomicLanding.commit(docs.filter(col("doc_id") < 250), src,
      statsKeys = Seq("doc_id"))
    val total = AtomicLanding.read(spark, src).count()
    val c1 = freshTable(); AtomicLanding.cloneShallow(src, c1)
    // c1 gains a LOCAL dir so c2's manifest mixes first- and
    // second-hand entries
    AtomicLanding.commit(docs.filter(col("doc_id") >= 250), c1, append = true)
    val c2 = freshTable(); AtomicLanding.cloneShallow(c1, c2)
    val c2Dirs = AtomicLanding.dirsOfVersion(c2,
      AtomicLanding.currentVersion(c2).get)
    assert(c2Dirs.forall(_.startsWith("/")),
      s"every c2 entry must be absolute: $c2Dirs")
    // the second-hand ref still points at the ORIGINAL source data,
    // not at c1 (absolutize keeps absolute entries verbatim)
    assert(c2Dirs.exists(_.startsWith(src)),
      s"c2 must reference $src directly, got $c2Dirs")
    assert(AtomicLanding.read(spark, c2).count() == docs.count())
    // registration follows the refs: c1 registered at src; c2 — whose
    // manifest mixes first-hand (c1-local) and second-hand (src)
    // entries — registered at BOTH, so either ancestor's vacuum spares
    // the dirs c2 still reads
    assert(AtomicLanding.registeredClones(src).toSet == Set(c1, c2))
    assert(AtomicLanding.registeredClones(c1) == Seq(c2))

    // string-key pruned delete: a table range-clustered on `source`
    // rewrites only the dir whose UTF-8 byte-order range covers the
    // victims
    val bySource = freshTable()
    val srcVals = docs.select(col("source")).distinct()
      .orderBy(col("source")).collect().map(_.getString(0)).toSeq
    assert(srcVals.size >= 2, s"fixture needs >= 2 sources, got $srcVals")
    val (half1, half2) = srcVals.splitAt(srcVals.size / 2)
    AtomicLanding.commit(docs.filter(col("source").isin(half1: _*)),
      bySource, statsKeys = Seq("source"))
    AtomicLanding.commit(docs.filter(col("source").isin(half2: _*)),
      bySource, append = true)
    val dirs0 = AtomicLanding.dirsOfVersion(bySource,
      AtomicLanding.currentVersion(bySource).get).toSet
    val victimSrc = half2.last
    val spark2 = spark; import spark2.implicits._
    val nVic = docs.filter(col("source") === victimSrc).count()
    assert(nVic > 0)
    AtomicLanding.deletePruned(Seq(victimSrc).toDF("source"),
      bySource, "source")
    assert(AtomicLanding.read(spark, bySource).count() == docs.count() - nVic)
    val dirs1 = AtomicLanding.dirsOfVersion(bySource,
      AtomicLanding.currentVersion(bySource).get).toSet
    assert((dirs0 intersect dirs1).size == 1,
      "the non-victim half's dir must carry verbatim")
  }
}
