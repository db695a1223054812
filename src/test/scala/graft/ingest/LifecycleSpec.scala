package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.catalog.InMemoryMetadataStore
import graft.land.Landing
import graft.model._
import graft.queries.Spool

/** End-to-end §3.2 lifecycle over the parquet fixture: extract → land →
  * catalog record; re-run reads only the (empty) delta. */
class LifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def asset(method: ExtractionMethod) = DataAsset(
    assetId = 7, srcTableName = "events", srcSqlQuery = None,
    triggerMechanism = TriggerMechanism.TimeDriven,
    extMethod = method, extCol = Some("ts"))

  test("first incremental run lands everything and records the probed max") {
    val store = new InMemoryMetadataStore()
    val src = new ParquetTableSource(spark, TestSpark.Sf0001, "events")
    val out = Spool.dir("graft-land")

    val e1 = IncrementalExtractor.run(store, src, asset(ExtractionMethod.Incremental),
      srcSysId = 1, execId = "run1", land = df => Landing.parquet(df, s"$out/r1"))
    val landed = spark.read.parquet(s"$out/r1")
    val total = graft.Tables.t(spark, TestSpark.Sf0001, "events").count()
    assert(landed.count() == total)
    val maxTs = landed.agg(max(col("ts"))).head().getTimestamp(0)
    assert(e1.lastExtTime.contains(maxTs))   // watermark = probed max
    assert(store.highestWatermark(7).contains(maxTs))

    // second run: nothing new arrived -> empty (last, last] interval
    val e2 = IncrementalExtractor.run(store, src, asset(ExtractionMethod.Incremental),
      srcSysId = 1, execId = "run2", land = df => Landing.parquet(df, s"$out/r2"))
    assert(spark.read.parquet(s"$out/r2").count() == 0)
    assert(e2.lastExtTime.contains(maxTs))   // watermark unchanged
    assert(store.catalogEntries(7).map(_.execId).sorted == Seq("run1", "run2"))
  }

  test("full-method run lands everything and records a NULL watermark") {
    val store = new InMemoryMetadataStore()
    val src = new ParquetTableSource(spark, TestSpark.Sf0001, "events")
    val out = Spool.dir("graft-land-f")
    val e = IncrementalExtractor.run(store, src, asset(ExtractionMethod.Full),
      srcSysId = 1, execId = "runF", land = df => Landing.parquet(df, s"$out/rf"))
    assert(e.lastExtTime.isEmpty)            // dataIngestionUtils.py:43,193-194
    assert(store.highestWatermark(7).isEmpty)
    assert(spark.read.parquet(s"$out/rf").count() > 0)
  }

  test("proc_start_ts precedes created_ts (start vs insert wall clock)") {
    val store = new InMemoryMetadataStore()
    val src = new ParquetTableSource(spark, TestSpark.Sf0001, "region")
    val out = Spool.dir("graft-land-t")
    val e = IncrementalExtractor.run(store, src, DataAsset(8, "region", None,
      TriggerMechanism.TimeDriven, ExtractionMethod.Full, None),
      srcSysId = 1, execId = "runT", land = df => Landing.parquet(df, s"$out/rt"))
    assert(!e.procStartTs.after(e.createdTs))
  }
}
