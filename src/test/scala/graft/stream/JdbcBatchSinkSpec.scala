package graft.stream

import java.sql.DriverManager
import java.util.Properties

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.files.FileRelay
import graft.queries.Spool

class JdbcBatchSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val url = "jdbc:derby:memory:graftsink;create=true"
  private val props = new Properties()

  private def count(where: String = ""): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement()
        .executeQuery(s"SELECT count(*) FROM events_out $where")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  test("streamed batches land once; a replayed (even partial) batch converges") {
    val c = DriverManager.getConnection(url)
    try c.createStatement().executeUpdate(
      "CREATE TABLE events_out (k BIGINT, batch_id BIGINT)")
    finally c.close()

    val t = Spool.dir("graft-jdbcsink")
    val relay = new FileRelay()
    relay.writeUtf8(new Path(s"$t/in/b1.json"),
      (1 to 4).map(i => s"""{"k":$i}""").mkString("\n"))
    relay.writeUtf8(new Path(s"$t/in/b2.json"),
      (5 to 7).map(i => s"""{"k":$i}""").mkString("\n"))

    val sink = new JdbcBatchSink(url, props, "events_out")
    val q = spark.readStream
      .schema(StructType(Seq(StructField("k", LongType))))
      .option("maxFilesPerTrigger", 1).json(s"$t/in")
      .writeStream.foreachBatch(sink.apply _)
      .option("checkpointLocation", s"$t/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(count() == 7)
    assert(count("WHERE batch_id = 1") == 3)

    // crash-replay of batch 1, arriving AFTER a partial write survived:
    // plant a leftover partial row, then replay the whole batch
    val c2 = DriverManager.getConnection(url)
    try c2.createStatement().executeUpdate(
      "INSERT INTO events_out VALUES (99, 1)")
    finally c2.close()
    import spark.implicits._
    sink(Seq(5L, 6L, 7L).toDF("k"), 1L)
    assert(count() == 7)                         // converged, no dup, no 99
    assert(count("WHERE k = 99") == 0)           // partial leftover erased
    assert(count("WHERE batch_id = 1") == 3)
  }

  test("stage garbage from a crashed attempt never reaches the target") {
    import spark.implicits._
    // plant junk in the stage table, as a crashed attempt would leave it
    val c = DriverManager.getConnection(url)
    try {
      c.createStatement().executeUpdate(
        "CREATE TABLE junk_out (k BIGINT, batch_id BIGINT)")
      c.createStatement().executeUpdate(
        "CREATE TABLE junk_out_stage (k BIGINT, batch_id BIGINT)")
      c.createStatement().executeUpdate(
        "INSERT INTO junk_out_stage VALUES (777, 0)")
    } finally c.close()
    val sink = new JdbcBatchSink(url, props, "junk_out")
    sink(Seq(1L, 2L).toDF("k"), 0L)
    val c2 = DriverManager.getConnection(url)
    try {
      val rs = c2.createStatement()
        .executeQuery("SELECT count(*) FROM junk_out WHERE k = 777")
      rs.next(); assert(rs.getLong(1) == 0)      // junk overwritten, not swapped
      val rs2 = c2.createStatement()
        .executeQuery("SELECT count(*) FROM junk_out")
      rs2.next(); assert(rs2.getLong(1) == 2)
    } finally c2.close()
  }

  test("a pre-existing target with the columns in a DIFFERENT order fills by name") {
    import spark.implicits._
    // user DDL puts batch_id FIRST — a positional SELECT * would write
    // k values into batch_id and batch ids into k
    val c = DriverManager.getConnection(url)
    try c.createStatement().executeUpdate(
      "CREATE TABLE swapped_out (batch_id BIGINT, k BIGINT)")
    finally c.close()
    val sink = new JdbcBatchSink(url, props, "swapped_out")
    sink(Seq(41L, 42L).toDF("k"), 3L)
    val c2 = DriverManager.getConnection(url)
    try {
      val rs = c2.createStatement().executeQuery(
        "SELECT count(*) FROM swapped_out WHERE batch_id = 3 AND k IN (41, 42)")
      rs.next(); assert(rs.getLong(1) == 2)
    } finally c2.close()
  }

  test("a target whose column SET differs fails loudly, not cross-wired") {
    import spark.implicits._
    val c = DriverManager.getConnection(url)
    try c.createStatement().executeUpdate(
      "CREATE TABLE wrongset_out (other BIGINT, batch_id BIGINT)")
    finally c.close()
    val sink = new JdbcBatchSink(url, props, "wrongset_out")
    assertThrows[IllegalArgumentException](sink(Seq(1L).toDF("k"), 0L))
  }

  test("the target table is created on first batch when absent") {
    import spark.implicits._
    val sink = new JdbcBatchSink(url, props, "fresh_out")
    sink(Seq(10L, 11L, 12L).toDF("k"), 5L)
    val c = DriverManager.getConnection(url)
    try {
      // the created-from-stage table carries Spark's quoted lowercase ids
      val rs = c.createStatement()
        .executeQuery("SELECT count(*) FROM fresh_out WHERE \"batch_id\" = 5")
      rs.next(); assert(rs.getLong(1) == 3)
    } finally c.close()
  }
}
