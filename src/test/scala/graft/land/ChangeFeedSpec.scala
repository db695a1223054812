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
}
