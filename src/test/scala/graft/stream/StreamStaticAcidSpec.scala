package graft.stream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.files.FileRelay
import graft.land.AtomicLanding
import graft.queries.Spool

/** Stream-static enrichment where the static side is an ACID landing
  * table being rewritten WHILE the stream runs — the slowly-changing-
  * dimension shape. Each micro-batch resolves the dimension through the
  * manifest pointer at its own execution time, so a dimension upgrade
  * between batches is picked up by the next batch atomically (never a
  * half-written dimension, never a stale cache). */
class StreamStaticAcidSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("each micro-batch joins the dimension version current at its run") {
    import spark.implicits._
    val dim = Spool.dir("graft-scd") + "/dim"
    AtomicLanding.commit(
      Seq((1L, "bronze"), (2L, "bronze")).toDF("user_id", "segment"), dim)

    val t = Spool.dir("graft-scdstream")
    val relay = new FileRelay()
    relay.writeUtf8(new Path(s"$t/in/a.json"), """{"user_id":1}""")
    relay.writeUtf8(new Path(s"$t/in/b.json"), """{"user_id":2}""")
    // force processing order: a.json strictly older
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$t/in/a.json"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))

    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream
      .schema(StructType(Seq(StructField("user_id", LongType))))
      .option("maxFilesPerTrigger", 1).json(s"$t/in")
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // resolve the dimension through the pointer AT THIS BATCH
        val d = AtomicLanding.read(spark, dim)
        out ++= df.join(d, "user_id")
          .select(col("user_id"), col("segment"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        // upgrade the dimension after the first batch lands
        if (batchId == 0L) AtomicLanding.commit(
          Seq((1L, "gold"), (2L, "gold")).toDF("user_id", "segment"), dim)
        ()
      }
      .option("checkpointLocation", s"$t/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    assert(out.toSet == Set((1L, "bronze"), (2L, "gold")))
    // and the dimension history is queryable: both versions intact
    assert(AtomicLanding.readVersion(spark, dim, 0L)
      .filter(col("segment") === "bronze").count() == 2)
    assert(AtomicLanding.readVersion(spark, dim, 1L)
      .filter(col("segment") === "gold").count() == 2)
  }
}
