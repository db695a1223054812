package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.TestSpark
import graft.queries.Spool

class LmScoreSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ngram_counts agrees with explode(word_ngrams) + groupBy") {
    val d = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    for (n <- Seq(1, 2, 3)) {
      val fast = d.select(col("doc_id"),
          explode(call_function("ngram_counts", col("text"), lit(n))).as("gc"))
        .select(col("doc_id"), col("gc.term").as("b"),
          col("gc.cnt").cast("long").as("c"))
      val ref = d.select(col("doc_id"),
          explode(call_function("word_ngrams", col("text"), lit(n))).as("b"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty,
        s"n=$n mismatch")
    }
  }

  test("ngram_counts(text, 1) agrees with word_counts; short docs empty") {
    val d = Seq((1L, "a b a"), (2L, "xy"), (3L, "")).toDF("doc_id", "text")
    val a = d.select(col("doc_id"),
      call_function("ngram_counts", col("text"), lit(1)).as("g")).collect()
    val b = d.select(col("doc_id"),
      call_function("word_counts", col("text")).as("g")).collect()
    assert(a.toSeq.map(_.toString) == b.toSeq.map(_.toString))
    val tri = d.select(
      size(call_function("ngram_counts", col("text"), lit(3))).as("n"))
      .as[Int].collect().toSeq
    assert(tri == Seq(1, 0, 0)) // only doc 1 has >= 3 tokens
  }

  test("separator runs produce empty tokens, same as split semantics") {
    val d = Seq((1L, "a  b")).toDF("doc_id", "text") // tokens: a, "", b
    val g = d.select(explode(
        call_function("ngram_counts", col("text"), lit(2))).as("gc"))
      .select("gc.term").as[String].collect().toSeq
    assert(g == Seq("a ", " b"))
  }

  test("trained model counts and smoothed surprisal, hand-checked") {
    // corpus: "a b a b" and "a b c": bigram counts a b:3, b a:1, b c:1
    // contexts: a:3, b:2; vocab V=3 (a, b, c)
    val corpus = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val m = LmScore.train(corpus)
    val ng = m.ngrams.orderBy("term").as[(String, Long)].collect().toSeq
    assert(ng == Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
    val cx = m.contexts.orderBy("ctx").as[(String, Long)].collect().toSeq
    assert(cx == Seq(("a", 3L), ("b", 2L)))
    assert(m.vocab.as[Long].head() == 3L)

    val r = LmScore.score(corpus, m).orderBy("doc_id").collect()
    // doc 1: "a b" x2 -> s = (1000*(3+3)) div (3+1) = 1500 each;
    //        "b a" x1 -> (1000*(2+3)) div (1+1) = 2500
    // total = 2*1500 + 2500 = 5500, n=3 -> 1833
    assert(r(0).getAs[Long]("n_grams") == 3L)
    assert(r(0).getAs[Long]("nll_scaled") == 5500L / 3)
    // doc 2: "a b" 1500 + "b c" 2500 -> 4000 div 2 = 2000
    assert(r(1).getAs[Long]("nll_scaled") == 2000L)
  }

  test("OOV n-grams and contexts score as unseen mass, not errors") {
    val corpus = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val m = LmScore.train(corpus) // V=2, ctx a:2, b:1; "a b":2, "b a":1
    val r = LmScore.score(Seq((9L, "z q")).toDF("doc_id", "text"), m).collect()
    // "z q": cnt 0, ctx("z") 0 -> (1000*(0+2)) div 1 = 2000
    assert(r.length == 1 && r(0).getAs[Long]("nll_scaled") == 2000L)
  }

  test("in-model text scores less surprising than off-model text") {
    val fixture = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val m = LmScore.train(fixture)
    val probe = Seq(
      (1L, "the query filter join table window"),
      (2L, "zebra quark vortex nimbus oboe glyph")).toDF("doc_id", "text")
    val r = LmScore.score(probe, m).orderBy("doc_id")
      .select("nll_scaled").as[Long].collect()
    assert(r(0) < r(1))
  }

  test("docs shorter than n tokens are absent from the score output") {
    val corpus = Seq((1L, "a b c")).toDF("doc_id", "text")
    val m = LmScore.train(corpus)
    val r = LmScore.score(Seq((5L, "solo"), (6L, "a b")).toDF("doc_id", "text"), m)
      .select("doc_id").as[Long].collect().toSeq
    assert(r == Seq(6L))
  }

  test("model-side joins are shuffle joins, not forced broadcasts") {
    // the n-gram and context tables are vocabulary-sized at 100 TB; with
    // auto-broadcast off, any BroadcastHashJoin must come from a hint in
    // the operator — assert only the one-row V broadcast remains (a
    // nested-loop cross, not a hash join)
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val corpus = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val m = LmScore.train(corpus)
      val p = LmScore.score(corpus, m).queryExecution.executedPlan
      val bhj = collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }
      assert(bhj.isEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("broadcastModel pins both model lookups map-side, rows identical") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val corpus = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "c a b a"))
      .toDF("doc_id", "text")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val m = LmScore.train(corpus)
      val shuffled = LmScore.score(corpus, m)
      val bcast = LmScore.score(corpus, m, broadcastModel = true)
      // two hash-join broadcasts (ngrams + contexts) even with
      // auto-broadcast off — the declared intent, not a size estimate
      val bhj = collectWithSubqueries(bcast.queryExecution.executedPlan) {
        case j: BroadcastHashJoinExec => j }
      assert(bhj.size == 2,
        s"expected ngrams + contexts broadcasts, got ${bhj.size}")
      assert(bcast.orderBy("doc_id").collect().toSeq ==
        shuffled.orderBy("doc_id").collect().toSeq,
        "both plans must produce identical rows")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("save/load round-trips the model: scores identical, snapshot consistent") {
    val ref = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val scored = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "z q a b"))
      .toDF("doc_id", "text") // doc 3 brings OOV n-grams AND contexts
    val m = LmScore.train(ref)
    val dir = Spool.dir("lmsave") + "/m"
    LmScore.save(m, dir)
    val loaded = LmScore.load(spark, dir)
    assert(loaded.n == m.n)
    assert(LmScore.score(scored, loaded, broadcastModel = true)
        .orderBy("doc_id").collect().toSeq ==
      LmScore.score(scored, m).orderBy("doc_id").collect().toSeq,
      "the persisted model must reproduce the in-session model's scores")
    // a second save at the same root supersedes atomically: load still
    // yields ONE generation's members (no ngrams-from-run-1 with
    // contexts-from-run-2)
    LmScore.save(LmScore.train(scored), dir)
    val m2 = LmScore.load(spark, dir)
    assert(m2.vocab.head().getLong(0) == 5L) // a b c z q
    assert(m2.ngrams.count() ==
      LmScore.train(scored).ngrams.count())
  }
}
