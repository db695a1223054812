package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.Spool

class DataQualityMaskingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("validate counts planted violations exactly, one row per rule") {
    import DataQuality._
    val dim = Seq(1L, 2L, 3L).toDF("id")
    val df = Seq(
      (Some(1L), 10.0, "ok@x.io"),
      (Some(1L), -5.0, "bad"),        // dup id + out-of-range + bad email
      (None, 20.0, "a@b.co"),         // null id
      (Some(9L), 200.0, "c@d.eu")     // unknown id + out-of-range
    ).toDF("id", "v", "email")
    val report = validate(df, Seq(
      NotNull("id"), InRange("v", 0, 100), Matches("email", "^[^@]+@[^@]+$"),
      Unique("id"), RefIntegrity("id", dim, "id")))
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._3)).toMap
    assert(report == Map(
      "not_null" -> 1L, "in_range" -> 2L, "matches" -> 1L,
      "unique" -> 1L, "ref_integrity" -> 1L))
  }

  test("validate on clean data reports zero violations for every rule") {
    import DataQuality._
    val df = Seq((1L, 5.0), (2L, 6.0)).toDF("id", "v")
    val report = validate(df, Seq(NotNull("id"), InRange("v", 0, 10), Unique("id")))
      .as[(String, String, Long)].collect()
    assert(report.length == 3 && report.forall(_._3 == 0L))
    // an empty rule list is a config error, not a trivial pass
    assertThrows[IllegalArgumentException](validate(df, Seq.empty))
  }

  test("observed rules count violations during the write itself — no second scan") {
    import DataQuality._
    val df = Seq((Some(1L), 10.0), (None, -4.0), (Some(3L), 200.0))
      .toDF("id", "v")
    val (instrumented, obs) = observed(df,
      Seq(NotNull("id"), InRange("v", 0, 100)))
    val out = Spool.dir("graft-obs") + "/p"
    instrumented.write.parquet(out) // the ONLY action that runs
    assert(obs.get("not_null:id") == 1L)
    assert(obs.get("in_range:v") == 2L)
    assert(spark.read.parquet(out).count() == 3) // data landed unchanged
  }

  test("pseudonymized keys keep referential integrity: masked join == raw join") {
    val c = graft.Tables.t(spark, TestSpark.Sf0001, "customer")
    val o = graft.Tables.t(spark, TestSpark.Sf0001, "orders")
    val rawCount = c.join(o, col("c_custkey") === col("o_custkey")).count()
    val mc = c.select(Masking.pseudonym(col("c_custkey"), "s1").as("ck"))
    val mo = o.select(Masking.pseudonym(col("o_custkey"), "s1").as("ok"))
    assert(mc.join(mo, col("ck") === col("ok")).count() == rawCount)
    // different salt -> unlinkable
    val mo2 = o.select(Masking.pseudonym(col("o_custkey"), "s2").as("ok"))
    assert(mc.join(mo2, col("ck") === col("ok")).count() == 0L)
  }

  test("maskAllButLast keeps only the tail; generalize buckets") {
    val df = Seq(("Customer#000000007", 742.5), ("ab", -3.0)).toDF("c_name", "bal")
    val r = df.select(
      Masking.maskAllButLast("c_name", 4).as("m"),
      Masking.generalize(col("bal"), 100.0).as("b")).collect()
    assert(r(0).getString(0) == "**************0007")
    assert(r(0).getLong(1) == 7L)
    assert(r(1).getString(0) == "ab")   // shorter than keep: untouched
    assert(r(1).getLong(1) == -1L)      // floor toward -inf
  }
}
