package graft.land

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.Spool

class ChangeFeedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String = {
    val d = Spool.dir("graft-cdf") + "/t"
    // v0: three rows
    AtomicLanding.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), d)
    // v1: append two
    AtomicLanding.commit(Seq((4L, "d"), (5L, "e")).toDF("id", "v"), d,
      append = true)
    // v2: merge — update 2, update 3 to NULL, insert 6
    AtomicLanding.merge(
      Seq((2L, Some("B2")), (3L, None), (6L, Some("f")))
        .toDF("id", "v"), d, "id")
    // v3: compaction — layout-only rewrite
    AtomicLanding.compact(spark, d, numFiles = 1)
    d
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Option[String])] =
    df.collect().map(r => (r.getString(0), r.getLong(1),
      Option(r.getString(2)))).toSet

  test("append span takes the fast path and reads only the added dirs") {
    val t = freshTable()
    val (added, removed) = ChangeFeed.dirDelta(t, 0L, 1L)
    assert(removed.isEmpty && added.size == 1)
    assert(rows(ChangeFeed.changes(spark, t, 0L, 1L, "id")) ==
      Set(("insert", 4L, Some("d")), ("insert", 5L, Some("e"))))
  }

  test("merge span emits update pre/post images and inserts, incl. value->NULL") {
    val t = freshTable()
    val (_, removed) = ChangeFeed.dirDelta(t, 1L, 2L)
    assert(removed.nonEmpty, "merge must have removed dirs (keyed path)")
    assert(rows(ChangeFeed.changes(spark, t, 1L, 2L, "id")) == Set(
      ("update_pre", 2L, Some("b")), ("update_post", 2L, Some("B2")),
      ("update_pre", 3L, Some("c")), ("update_post", 3L, None),
      ("insert", 6L, Some("f"))))
  }

  test("compaction emits an EMPTY feed: layout is not change") {
    val t = freshTable()
    assert(ChangeFeed.changes(spark, t, 2L, 3L, "id").count() == 0L)
  }

  test("overwrite emits deletes for vanished keys") {
    val t = freshTable()
    // v4: overwrite with everything but id 4
    AtomicLanding.commit(
      AtomicLanding.read(spark, t).filter(col("id") =!= 4L), t)
    assert(rows(ChangeFeed.changes(spark, t, 3L, 4L, "id")) ==
      Set(("delete", 4L, Some("d"))))
  }

  test("multi-version span composes: v0 -> v2 sees appends as inserts too") {
    val t = freshTable()
    assert(rows(ChangeFeed.changes(spark, t, 0L, 2L, "id")) == Set(
      ("insert", 4L, Some("d")), ("insert", 5L, Some("e")),
      ("insert", 6L, Some("f")),
      ("update_pre", 2L, Some("b")), ("update_post", 2L, Some("B2")),
      ("update_pre", 3L, Some("c")), ("update_post", 3L, None)))
  }

  test("empty span (same version twice) emits nothing on both paths") {
    val t = freshTable()
    assert(ChangeFeed.changes(spark, t, 1L, 1L, "id").count() == 0L)
    assert(ChangeFeed.changes(spark, t, 3L, 3L, "id").count() == 0L)
  }

  test("append fast path reads the added dirs at the new version's schema, with no job") {
    val t = Spool.dir("graft-cdf-evolve") + "/t"
    AtomicLanding.commit(Seq((1L, "a")).toDF("id", "name"), t)
    AtomicLanding.commit(Seq((2L, "b")).toDF("id", "name"), t, append = true)
    val pre = AtomicLanding.dirsOfVersion(t, 1L).last
    AtomicLanding.commit(Seq((3L, "c", 0.5)).toDF("id", "name", "score"), t,
      append = true, evolveSchema = true)
    // put the pre-evolution added dir first in path order ('-' sorts below
    // every hex digit), where a one-footer schema sample misses `score`
    val first = "data/0-pre-evolution"
    java.nio.file.Files.move(java.nio.file.Paths.get(t, pre), java.nio.file.Paths.get(t, first))
    for (v <- 1L to 2L) {
      val m = java.nio.file.Paths.get(t, "manifests", f"m-$v%010d")
      val text = new String(java.nio.file.Files.readAllBytes(m), "UTF-8")
      java.nio.file.Files.write(m,
        text.split("\n").map(l => if (l == pre) first else l).mkString("\n").getBytes("UTF-8"))
    }
    val (added, _) = ChangeFeed.dirDelta(t, 0L, 2L)
    assert(added.size == 2 && added.head == first)
    val (df, jobs) = graft.JobCounter.jobsDuring(spark)(ChangeFeed.changes(spark, t, 0L, 2L, "id"))
    assert(df.columns.toSeq == Seq("change_type", "id", "name", "score"))
    assert(df.orderBy("id").collect().map(r => (r.getLong(1), Option(r.get(3)))).toSeq ==
      Seq((2L, None), (3L, Some(0.5))))
    assert(jobs == 0L, "building the change feed ran Spark jobs")
  }
}
