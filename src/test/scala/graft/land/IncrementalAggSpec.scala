package graft.land

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.Spool

/** The maintenance invariant: advancing the materialized aggregate by a
  * change-feed span equals re-aggregating the span's end snapshot —
  * across appends, merges (incl. value->NULL updates), layout-only
  * compaction (empty feed), and overwrite deletes. */
class IncrementalAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // groups keyed id % 3; measure x nullable
  private def table(): String = {
    val d = Spool.dir("graft-incragg") + "/t"
    AtomicLanding.commit(Seq(
      (1L, Some(10L)), (2L, Some(20L)), (3L, Some(30L)), (4L, Some(40L)),
      (5L, None)).toDF("id", "x"), d)                      // v0
    AtomicLanding.commit(Seq((6L, Some(60L)), (7L, None))
      .toDF("id", "x"), d, append = true)                  // v1
    AtomicLanding.merge(Seq(
      (2L, None),          // value -> NULL update
      (5L, Some(55L)),     // NULL -> value update
      (9L, Some(90L))      // insert
    ).toDF("id", "x"), d, "id")                            // v2
    AtomicLanding.compact(spark, d, numFiles = 1)          // v3
    // overwrite away every id % 3 == 1 row: group 1 VANISHES
    AtomicLanding.commit(
      AtomicLanding.read(spark, d).filter(col("id") % 3 =!= 1L), d) // v4
    d
  }

  private def keyed(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("grp", col("id") % 3)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Option[Long])] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet

  test("every committed span maintains to exactly the end snapshot's aggregate") {
    val t = table()
    val keys = Seq("grp"); val ms = Seq("x")
    for (v0 <- 0L to 4L; v1 <- v0 to 4L) {
      val start = IncrementalAgg.full(
        keyed(AtomicLanding.readVersion(spark, t, v0)), keys, ms)
      val end = IncrementalAgg.full(
        keyed(AtomicLanding.readVersion(spark, t, v1)), keys, ms)
      val maintained = IncrementalAgg.apply(start,
        keyed(ChangeFeed.changes(spark, t, v0, v1, "id")), keys, ms)
      assert(rows(maintained) == rows(end), s"span v$v0 -> v$v1 diverged")
    }
  }

  test("chained single-version hops equal one big span") {
    val t = table()
    val keys = Seq("grp"); val ms = Seq("x")
    var acc = IncrementalAgg.full(
      keyed(AtomicLanding.readVersion(spark, t, 0L)), keys, ms)
    (1L to 4L).foreach { v =>
      acc = IncrementalAgg.apply(acc,
        keyed(ChangeFeed.changes(spark, t, v - 1, v, "id")), keys, ms)
    }
    val end = IncrementalAgg.full(
      keyed(AtomicLanding.readVersion(spark, t, 4L)), keys, ms)
    assert(rows(acc) == rows(end))
  }

  test("a vanished group is dropped, not left at zero") {
    val t = table()
    val maintained = IncrementalAgg.apply(
      IncrementalAgg.full(keyed(AtomicLanding.readVersion(spark, t, 3L)),
        Seq("grp"), Seq("x")),
      keyed(ChangeFeed.changes(spark, t, 3L, 4L, "id")), Seq("grp"), Seq("x"))
    assert(!maintained.collect().map(_.getLong(0)).contains(1L))
  }

  test("min/max refresh equals the batch aggregate on every committed span") {
    val t = table()
    val keys = Seq("grp"); val ms = Seq("x")
    def mm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    for (v0 <- 0L to 4L; v1 <- v0 to 4L) {
      val maintained = IncrementalAgg.refreshMinMax(
        IncrementalAgg.fullMinMax(
          keyed(AtomicLanding.readVersion(spark, t, v0)), keys, ms),
        keyed(AtomicLanding.readVersion(spark, t, v1)),
        keyed(ChangeFeed.changes(spark, t, v0, v1, "id")), keys, ms)
      val end = IncrementalAgg.fullMinMax(
        keyed(AtomicLanding.readVersion(spark, t, v1)), keys, ms)
      assert(mm(maintained) == mm(end), s"min/max span v$v0 -> v$v1 diverged")
    }
  }

  test("all-NULL-measure group publishes a NULL sum like the batch aggregate") {
    val t = table()
    // v1: ids 1..7; group 1 = {1:10, 4:40, 7:null}; make an all-null
    // group by maintaining v0 -> v1 on measure-only key 7's group…
    // directly: group of id 7 alone under key id % 100
    val start = IncrementalAgg.full(
      keyed(AtomicLanding.readVersion(spark, t, 0L))
        .withColumn("grp", col("id")), Seq("grp"), Seq("x"))
    val maintained = IncrementalAgg.apply(start,
      ChangeFeed.changes(spark, t, 0L, 1L, "id")
        .withColumn("grp", col("id")), Seq("grp"), Seq("x"))
    val g7 = maintained.filter(col("grp") === 7L).collect().head
    assert(g7.getLong(1) == 1L && g7.getLong(2) == 0L && g7.isNullAt(3))
  }
}
