package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.queries.Spool

class ShardingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fixture = {
    import spark.implicits._
    (0L until 400L).map(i => (i, s"doc body $i ${"x" * (i % 7).toInt}"))
      .toDF("doc_id", "text")
  }

  test("writeShards deals every row into exactly one shard dir, reproducibly") {
    val dir = Spool.dir("graft-shards")
    val df = fixture
    val manifest = Sharding.writeShards(df, col("doc_id"), col("text"),
      nShards = 8, outDir = dir)

    // every shard directory exists and nothing else leaked
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(dirs.toSeq == (0 until 8).map(s => s"shard=$s"))

    // round trip: the union of shards is exactly the input
    val back = spark.read.parquet(dir)
    assert(back.count() == 400)
    assert(back.select(col("doc_id"), col("text")).exceptAll(df).isEmpty)
    assert(df.exceptAll(back.select(col("doc_id"), col("text"))).isEmpty)

    // manifest counts and fingerprints match an independent recomputation
    val m = manifest.orderBy("shard").collect()
    assert(m.map(_.getLong(1)).sum == 400)
    val recomputed = back
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        bit_xor(TextOps.hash60(col("text"))).as("content_fp"))
      .orderBy("shard").collect()
    assert(m.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      recomputed.map(r => (r.getLong(1), r.getLong(2))).toSeq)

    // the persisted _manifest agrees with the returned one
    val persisted = spark.read.parquet(s"$dir/_manifest").orderBy("shard").collect()
    assert(persisted.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      m.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)

    // determinism: a second run assigns identical shards
    val dir2 = Spool.dir("graft-shards2")
    Sharding.writeShards(df, col("doc_id"), col("text"), 8, dir2)
    val a = spark.read.parquet(dir).select("doc_id", "shard")
    val b = spark.read.parquet(dir2).select("doc_id", "shard")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("census partitions any corpus exactly, for any shard count") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val prop = Prop.forAllNoShrink(
      Gen.chooseNum(1, 64), Gen.chooseNum(1, 32)) { (nRows, nShards) =>
      val df = (0L until nRows.toLong).map(i => (i, s"t$i")).toDF("doc_id", "text")
      val m = Sharding.census(df, col("doc_id"), col("text"), nShards)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      m.map(_._2).sum == nRows.toLong &&
        m.forall { case (s, _) => s >= 0 && s < nShards } &&
        m.map(_._1).distinct.length == m.length
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("within-shard order is the salted hash, uncorrelated with input order") {
    val df = fixture
    val assigned = Sharding.assign(df, col("doc_id"), 8)
    // ord is a pure function of the key: re-assigning reproduces it
    val again = Sharding.assign(df, col("doc_id"), 8)
    assert(assigned.exceptAll(again).isEmpty)
    // and it is NOT the shard hash (salt decorrelates): some doc must
    // differ in (shard-hash mod N) vs (ord mod N)
    val diff = assigned
      .filter(pmod(col("ord"), lit(8)) =!= col("shard")).count()
    assert(diff > 0)
  }
}
