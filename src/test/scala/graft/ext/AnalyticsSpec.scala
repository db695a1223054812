package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---------- FuzzyJoin ----------

  test("deletion-signature join equals the brute-force levenshtein cross join") {
    val names = (spark.read.parquet(s"${TestSpark.Sf0001}/customer.parquet")
        .select(col("c_name").as("k")).limit(200).as[String].collect().toSeq ++
      Seq("ab", "ba", "a", "", "abc", "abd", "abcd", "xabc", "café", "cafe"))
      .toDF("k")
    val got = FuzzyJoin.selfJoinEd1(names, "k")
      .select(col("key_a"), col("key_b"))
    val want = names.distinct().as("a")
      .crossJoin(names.distinct().as("b"))
      .where(col("a.k") < col("b.k"))
      .where(levenshtein(col("a.k"), col("b.k")) <= 1)
      .select(col("a.k").as("key_a"), col("b.k").as("key_b"))
    assert(got.exceptAll(want).count() == 0)
    assert(want.exceptAll(got).count() == 0)
    assert(want.count() > 0) // the fixture must actually exercise matches
  }

  test("fuzzy join plans no cartesian product or nested-loop join") {
    val names = Seq("aa", "ab", "ba").toDF("k")
    val plan = FuzzyJoin.selfJoinEd1(names, "k")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("incremental fuzzy join equals the brute-force batch x corpus scan") {
    val all = spark.read.parquet(s"${TestSpark.Sf0001}/customer.parquet")
      .select(col("c_name").as("k"), col("c_custkey"))
      .limit(300)
    val batch = all.where(col("c_custkey") % 10 === 0)
    val corpus = all.where(col("c_custkey") % 10 =!= 0)
      // an exact duplicate of a batch name must surface as ed = 0
      .unionByName(batch.limit(1))
    val got = FuzzyJoin.againstCorpusEd1(batch, corpus, "k")
      .select(col("key_new"), col("key_corpus"))
    val want = batch.select(col("k").as("key_new")).distinct()
      .crossJoin(corpus.select(col("k").as("key_corpus")).distinct())
      .where(levenshtein(col("key_new"), col("key_corpus")) <= 1)
    assert(got.exceptAll(want).count() == 0)
    assert(want.exceptAll(got).count() == 0)
    // the ed=0 pair is present
    assert(got.where(col("key_new") === col("key_corpus")).count() == 1)
  }

  test("persisted signature index reproduces the inline incremental match exactly") {
    val all = spark.read.parquet(s"${TestSpark.Sf0001}/customer.parquet")
      .select(col("c_name").as("k"), col("c_custkey"))
      .limit(400)
    val batch = all.where(col("c_custkey") % 10 === 0)
    val corpus = all.where(col("c_custkey") % 10 =!= 0)
    val idx = java.nio.file.Files
      .createTempDirectory("graft-fuzzyidx-spec").toString + "/idx"
    FuzzyJoin.buildSigIndex(corpus, "k", idx)
    val indexed = FuzzyJoin.againstIndexEd1(spark, idx, batch, "k")
    val inline = FuzzyJoin.againstCorpusEd1(batch, corpus, "k")
    assert(indexed.exceptAll(inline).count() == 0)
    assert(inline.exceptAll(indexed).count() == 0)
    assert(inline.count() > 0)
  }

  // ---------- CMS join-size estimate ----------

  test("CMS join-size estimate never undercounts and is exact for one key") {
    val a = Seq.fill(7)(("k1", 1L)) ++ Seq.fill(3)(("k2", 1L))
    val b = Seq.fill(5)(("k1", 1L)) ++ Seq.fill(2)(("k3", 1L))
    val (d, w) = (4, 256)
    val est = CountMin.joinSizeEstimate(
      a.toDF("term", "cnt"), b.toDF("term", "cnt"), d, w)
    assert(est >= 35L) // exact |A join B| = 7*5; inner product >= truth
    // single-key streams: no cross terms exist, the bound is tight
    val single = CountMin.joinSizeEstimate(
      Seq(("solo", 4L)).toDF("term", "cnt"),
      Seq(("solo", 6L)).toDF("term", "cnt"), d, w)
    assert(single == 24L)
  }

  test("join-size estimate: disjoint key sets contribute their zero rows to the min") {
    val (d, w) = (4, 256)
    val est = CountMin.joinSizeEstimate(
      Seq(("only_in_a", 3L)).toDF("term", "cnt"),
      Seq(("only_in_b", 5L)).toDF("term", "cnt"), d, w)
    // reference from the public bucket mapping: a row where the two keys
    // land in different buckets has inner product 0 and must reach min()
    val ref = (0 until d).map { i =>
      if (CountMin.bucket("only_in_a", i, w) == CountMin.bucket("only_in_b", i, w))
        15L else 0L
    }.min
    assert(est == ref)
  }

  // ---------- Behavior: funnel ----------

  test("funnel enforces strict stage order, not mere presence") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Int) = new java.sql.Timestamp(ts0.getTime + min * 60000L)
    val ev = Seq(
      // u1: full ordered funnel
      (1L, "view", at(0)), (1L, "click", at(1)), (1L, "purchase", at(2)),
      // u2: click BEFORE first view, purchase after a later click -> u2
      // reaches click only via the post-view click at t=5
      (2L, "click", at(0)), (2L, "view", at(1)), (2L, "click", at(5)),
      (2L, "purchase", at(3)), // before the qualifying click -> not stage 3
      // u3: view only
      (3L, "view", at(0)),
      // u4: purchase then view then click (no purchase after click)
      (4L, "purchase", at(0)), (4L, "view", at(1)), (4L, "click", at(2)),
      // u5: no view at all
      (5L, "click", at(0)), (5L, "purchase", at(1))
    ).toDF("user_id", "event_type", "ts")
    val got = Behavior.funnel(ev, Seq("view", "click", "purchase"))
      .orderBy(col("stage")).as[(String, Long)].collect().toSeq
    assert(got == Seq(("01_view", 4L), ("02_click", 3L), ("03_purchase", 1L)))
  }

  test("funnel stage joins stay keyed on user_id (no cross-user state)") {
    // equal timestamps across stages: strict > means same-instant events
    // do NOT advance the funnel
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ev = Seq((1L, "view", ts), (1L, "click", ts))
      .toDF("user_id", "event_type", "ts")
    val got = Behavior.funnel(ev, Seq("view", "click"))
      .orderBy(col("stage")).as[(String, Long)].collect().toSeq
    assert(got == Seq(("01_view", 1L), ("02_click", 0L)))
  }

  // ---------- Behavior: retention ----------

  test("retention buckets by first-seen calendar day and whole-day offsets") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 23:59:00")), (1L, ts("2024-01-02 00:01:00")),
      (1L, ts("2024-01-05 12:00:00")),
      (2L, ts("2024-01-02 08:00:00")), (2L, ts("2024-01-02 09:00:00")),
      (3L, ts("2024-01-01 00:00:00")), (3L, ts("2024-01-02 10:00:00"))
    ).toDF("user_id", "ts")
    val got = Behavior.retention(ev)
      .orderBy(col("cohort_day"), col("day_offset"))
      .select(col("cohort_day").cast("string"), col("day_offset"), col("users"))
      .as[(String, Int, Long)].collect().toSeq
    assert(got == Seq(
      ("2024-01-01", 0, 2L), // u1 + u3 on their cohort day
      ("2024-01-01", 1, 2L), // both active next day (u1 at 00:01!)
      ("2024-01-01", 4, 1L), // u1 on day 4
      ("2024-01-02", 0, 1L))) // u2, same-day repeat collapses to 1 user
  }

  // ---------- Outliers ----------

  test("MAD outliers: hand-computed medians, zero-MAD and null handling") {
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(3.0)),
      ("a", Some(4.0)), ("a", Some(100.0)),
      ("b", Some(10.0)), ("b", Some(10.0)), ("b", Some(10.0)),
      ("b", None), // excluded, must not shift ranks
      ("c", None)  // all-NULL group vanishes
    ).toDF("g", "v")
    val got = graft.operators.Outliers.madOutliers(df, "v", Seq("g"), k = 3.0)
      .orderBy(col("g"))
      .as[(String, Double, Double, Long, Long)].collect().toSeq
    // a: median 3, dev [2,1,0,1,97] -> mad 1, fence 3 -> only 97 flagged
    // b: median 10, mad 0 -> zero-width fence flags nothing (d > 0 false)
    assert(got == Seq(("a", 3.0, 1.0, 5L, 1L), ("b", 10.0, 0.0, 3L, 0L)))
  }

  // ---------- PageRank ----------

  /** Both PageRank regimes: the driver solve (the default bound) and the
    * distributed loop (a bound of 0 forces it). Every PageRank test runs
    * under each. */
  private val regimes =
    Seq("driver" -> ConnectedComponents.LocalSolveMaxEdges, "distributed" -> 0L)

  /** Every output row, sorted by node (a duplicated node stays visible),
    * plus the rounds executed. */
  private def pageRank(edges: Seq[(Long, Long)], maxIters: Int, scale: Long,
      localSolveMax: Long): (Seq[(Long, Long)], Int) = {
    val (df, rounds) = PageRank.ranksWithRounds(
      spark, edges.toDF("src", "dst"), maxIters, scale, localSolveMax)
    (df.as[(Long, Long)].collect().toSeq.sortBy(_._1), rounds)
  }

  /** Driver-side integer reference: the exact fixed-point recurrence on a
    * dense map, summation order irrelevant by construction. */
  private def refRanks(edges: Seq[(Long, Long)], iters: Int,
                       scale: Long): Map[Long, Long] = {
    val dedup = edges.distinct
    val nodes = (dedup.map(_._1) ++ dedup.map(_._2)).distinct.sorted
    val n = nodes.size
    val init = scale / n
    val base = (15L * init) / 100L
    val outdeg = dedup.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> init).toMap
    for (_ <- 1 to iters) {
      val inc = dedup.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / outdeg(s) }.sum).toMap
      r = nodes.map(nd => nd -> (base + 85L * inc.getOrElse(nd, 0L) / 100L)).toMap
    }
    r
  }

  test("pagerank matches the driver-side integer reference on a small graph") {
    // chain + cycle + dangling node + duplicate edge + a hub
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (1L, 4L),
      (5L, 1L), (5L, 2L), (5L, 3L), (5L, 4L))
    for ((regime, bound) <- regimes) {
      val (got, _) = pageRank(edges, 5, 1000000L, bound)
      assert(got == refRanks(edges, 5, 1000000L).toSeq.sortBy(_._1), regime)
    }
  }

  test("pagerank rank mass is conserved up to integer truncation") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L))
    val scale = 1000000000000L
    for ((regime, bound) <- regimes) {
      val mass = pageRank(edges, 5, scale, bound)._1.map(_._2).sum
      // no dangling nodes here: total mass stays within truncation slack
      assert(mass <= scale && mass > scale - 1000L * 3, regime)
    }
  }

  test("pagerank delta-zero exit: fixed point == full unroll; budget exit runs out the clock") {
    for ((regime, bound) <- regimes) {
      // star source: node 1 feeds 2 and 3, nothing feeds 1 — rank(1)
      // pins to the base term from round 1, ranks(2,3) repeat from round
      // 2, so round 3 must detect the exact fixed point
      val star = Seq((1L, 2L), (1L, 3L))
      val (conv, rounds) = pageRank(star, 25, 1000000L, bound)
      assert(rounds == 3, s"$regime: star graph must fix at round 3, got $rounds")
      // identity past the fixed point: the early exit equals ANY longer
      // unroll bit-for-bit — the q_pagerank oracle-compat guarantee
      assert(conv == refRanks(star, 5, 1000000L).toSeq.sortBy(_._1), regime)
      assert(conv == refRanks(star, 25, 1000000L).toSeq.sortBy(_._1), regime)

      // a cycle at this scale keeps shedding one truncation unit per
      // round for a while — a 3-round budget must end the loop, not the
      // (unreached) fixed point, and the result is the exact 3-round state
      val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L))
      val (cyc, cycRounds) = pageRank(cycle, 3, 1000000L, bound)
      assert(cycRounds == 3, s"$regime: the budget, not convergence, must end this loop")
      assert(cyc == refRanks(cycle, 3, 1000000L).toSeq.sortBy(_._1), regime)
    }
  }

  test("pagerank driver and distributed regimes agree bit-for-bit on a random graph") {
    // ~2k edges over 300 nodes: random edges make cycles, nodes 250-299
    // never appear as a source (dangling), and 200 repeats are duplicates
    val rnd = new scala.util.Random(7)
    val drawn = Seq.fill(1800)((rnd.nextInt(250).toLong, rnd.nextInt(300).toLong))
    val edges = drawn ++ rnd.shuffle(drawn).take(200)
    val (driver, driverRounds) = pageRank(edges, 40, 1000000L, regimes.head._2)
    val (dist, distRounds) = pageRank(edges, 40, 1000000L, 0L)
    assert(driverRounds < 40, "the delta-zero exit must end this loop")
    assert(driverRounds == distRounds)
    assert(driver == dist)
    assert(driver == refRanks(edges, driverRounds, 1000000L).toSeq.sortBy(_._1))
  }

  test("pagerank distributed loop releases each superseded round") {
    // 6 budget-bound rounds (this cycle fixes at round 8); only the node
    // table and the final round may stay persisted once the call returns
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val before = spark.sparkContext.getPersistentRDDs.size
    val (got, rounds) = pageRank(cycle, 6, 1000000L, 0L)
    assert(rounds == 6)
    assert(got == refRanks(cycle, 6, 1000000L).toSeq.sortBy(_._1))
    assert(spark.sparkContext.getPersistentRDDs.size - before <= 2)
  }

  test("pagerank refuses a null src or dst in both regimes") {
    val withNulls = Seq(
      Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (null, 2L)),
      Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null)))
    for (edges <- withNulls; (regime, bound) <- regimes) {
      val err = intercept[IllegalArgumentException] {
        PageRank.ranksWithRounds(spark, edges.toDF("src", "dst"), 5, 1000000L, bound)
      }
      assert(err.getMessage.contains("non-null src and dst"), regime)
    }
  }
}
