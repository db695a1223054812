package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.Spool

class DecontaminateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val bench = Seq(
    (100L, "what is the capital of france and where is it located on a map")
  ).toDF("doc_id", "text")

  private lazy val corpus = Seq(
    // contains the benchmark question verbatim inside filler -> contaminated
    (1L, "filler words here what is the capital of france and where is it located on a map trailing filler"),
    // shares a few common words but no 10-shingle run
    (2L, "the capital markets of france trade where maps of data are located"),
    (3L, "completely unrelated text about spark shuffle partitions and joins")
  ).toDF("doc_id", "text")

  test("overlaps flags only the doc embedding the benchmark text") {
    val ov = Decontaminate.overlaps(corpus, bench, minShared = 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(ov.map(o => (o._1, o._2)) == Seq((1L, 100L)))
    assert(ov.head._3 >= 11) // the 13-word question yields 11 shared shingles+
  }

  test("scrub drops contaminated docs and keeps the rest") {
    val kept = Decontaminate.scrub(corpus, bench, minShared = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
  }

  test("incremental: persisted bench index reproduces the inline bits; growth + replay follow the contract") {
    import graft.land.AtomicLanding
    val idx = Spool.dir("graft-deconidx") + "/idx"
    val bench2 = bench.unionByName(Seq(
      (101L, "name the longest river in south america and its primary tributaries listed"))
      .toDF("doc_id", "text"))
    val corpus2 = corpus.unionByName(Seq(
      (4L, "intro name the longest river in south america and its primary tributaries listed outro"))
      .toDF("doc_id", "text"))
    // build on the first bench doc, grow with the second (identified)
    Decontaminate.buildBenchIndex(bench, idx, batchId = Some(0L))
    Decontaminate.addToBenchIndex(spark, idx,
      bench2.filter(col("doc_id") === 101L), batchId = Some(1L))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "bench_id").collect().toSeq
    assert(canon(Decontaminate.overlapsIncremental(spark, idx, corpus2, 10))
      == canon(Decontaminate.overlaps(corpus2, bench2, 10)),
      "the batch probe must be bit-identical to the inline join")
    assert(Decontaminate.scrubIncremental(spark, idx, corpus2, 10)
      .select("doc_id").as[Long].collect().toSet == Set(2L, 3L))
    // identified replay is a pure no-op
    val v = AtomicLanding.currentVersion(s"$idx/bench")
    Decontaminate.addToBenchIndex(spark, idx,
      bench2.filter(col("doc_id") === 101L), batchId = Some(1L))
    assert(AtomicLanding.currentVersion(s"$idx/bench") == v)
    // id-less re-append dedupes at (bench_id, h): nothing changes
    Decontaminate.addToBenchIndex(spark, idx, bench2)
    assert(canon(Decontaminate.overlapsIncremental(spark, idx, corpus2, 10))
      == canon(Decontaminate.overlaps(corpus2, bench2, 10)))
  }

  test("streaming ingest: micro-batched foreachBatch appends reproduce the one-shot index bits, replay-safe") {
    import graft.land.AtomicLanding
    val root = Spool.dir("graft-deconstream")
    val idx = s"$root/idx"
    val bench2 = bench.unionByName(Seq(
      (101L, "name the longest river in south america and its primary tributaries listed"),
      (102L, "which planet in the solar system has the most moons orbiting it today"))
      .toDF("doc_id", "text"))
    val corpus2 = corpus.unionByName(Seq(
      (4L, "intro name the longest river in south america and its primary tributaries listed outro"),
      (5L, "prefix which planet in the solar system has the most moons orbiting it today suffix"))
      .toDF("doc_id", "text"))
    // seed on the first bench doc, then stream the other two in
    // one-file micro-batches through the engine's batch ids
    Decontaminate.buildBenchIndex(bench, idx, batchId = Some(-1L))
    bench2.filter(col("doc_id") > 100L).repartition(2)
      .write.mode("overwrite").parquet(s"$root/in")
    val q = spark.readStream.schema(bench2.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, b: Long) =>
        { Decontaminate.addToBenchIndex(spark, idx, df,
            batchId = Some(b)); () })
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "bench_id").collect().toSeq
    assert(canon(Decontaminate.overlapsIncremental(spark, idx, corpus2, 10))
      == canon(Decontaminate.overlaps(corpus2, bench2, 10)),
      "stream-grown index must be bit-identical to the inline join " +
        "over the full benchmark")
    // a REPLAYED drain (fresh checkpoint, same files, same engine ids
    // 0..n) must leave the index untouched: every append judged by the
    // default channel's high-water mark
    val v = AtomicLanding.currentVersion(s"$idx/bench")
    val q2 = spark.readStream.schema(bench2.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, b: Long) =>
        { Decontaminate.addToBenchIndex(spark, idx, df,
            batchId = Some(b)); () })
      .option("checkpointLocation", s"$root/ckpt2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(AtomicLanding.currentVersion(s"$idx/bench") == v,
      "replaying the drained stream must be a version-level no-op")
  }

  test("stopTopK drops the highest-df benchmark shingles from the index") {
    // two bench docs share the boilerplate prefix "a b c"; each has a
    // unique tail — the shared shingle has df=2, every other df=1
    val b2 = Seq(
      (100L, "a b c d e"),
      (101L, "a b c x y")
    ).toDF("doc_id", "text")
    val c2 = Seq(
      (1L, "a b c q r")   // overlaps both ONLY via the df=2 shingle "a b c"
    ).toDF("doc_id", "text")
    val before = Decontaminate.overlaps(c2, b2, minShared = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(before.map(o => (o._1, o._2)).toSet == Set((1L, 100L), (1L, 101L)))
    // capping the single most frequent shingle removes exactly "a b c"
    val after = Decontaminate.overlaps(c2, b2, minShared = 1, stopTopK = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(after.isEmpty)
    // and the uncapped result is unchanged for the real fixture queries
    val ov = Decontaminate.overlaps(corpus, bench, minShared = 10, stopTopK = 0)
      .as[(Long, Long, Long)].collect().toSeq
    assert(ov.map(o => (o._1, o._2)) == Seq((1L, 100L)))
  }

  test("index params persist at build and validate on append/probe: an n mismatch fails loudly") {
    val idx = Spool.dir("graft-deconidx") + "/idx"
    Decontaminate.buildBenchIndex(bench, idx, n = 3, batchId = Some(0L))
    val ps = Decontaminate.readParams(spark, idx)
    assert(ps.contains(Decontaminate.IndexParams(3, 0, 1L << 20, 1L << 23)),
      s"build must freeze its params into the index: $ps")
    // a mismatched shingle width would silently corrupt n_shared —
    // every entry point must refuse it instead
    val eAdd = intercept[IllegalArgumentException] {
      Decontaminate.addToBenchIndex(spark, idx, bench, n = 2)
    }
    assert(eAdd.getMessage.contains("n=2") && eAdd.getMessage.contains("n=3"))
    intercept[IllegalArgumentException] {
      Decontaminate.overlapsIncremental(spark, idx, corpus, 10, n = 4).count()
    }
    intercept[IllegalArgumentException] {
      Decontaminate.overlapsIncrementalBloom(spark, idx, corpus, 10, n = 4).count()
    }
    // the frozen n still probes fine
    assert(Decontaminate.overlapsIncremental(spark, idx, corpus, 10, n = 3)
      .count() == 1L)
  }

  test("stopTopK freezes LITERALLY: the persisted stop list re-applies to appended benchmark docs") {
    import graft.land.AtomicLanding
    // two bench docs share boilerplate "a b c" (df=2, the frozen stop);
    // everything else df=1
    val b2 = Seq(
      (100L, "a b c d e"),
      (101L, "a b c x y")
    ).toDF("doc_id", "text")
    val idx = Spool.dir("graft-deconidx") + "/idx"
    Decontaminate.buildBenchIndex(b2, idx, stopTopK = 1, batchId = Some(0L))
    assert(Decontaminate.readParams(spark, idx).exists(_.stopTopK == 1))
    assert(AtomicLanding.currentVersion(s"$idx/stops").isDefined,
      "stopTopK > 0 must persist its stop list for appends to re-apply")
    // grow with a doc that CONTAINS the stopped shingle: the frozen
    // stop list must filter it from the appended shingles too
    Decontaminate.addToBenchIndex(spark, idx,
      Seq((102L, "a b c m n")).toDF("doc_id", "text"), batchId = Some(1L))
    // a batch overlapping ONLY via the stopped "a b c" flags nothing —
    // for original AND appended bench docs alike (one semantics)
    assert(Decontaminate.overlapsIncremental(spark, idx,
      Seq((1L, "a b c q r")).toDF("doc_id", "text"), minShared = 1)
      .count() == 0L,
      "the stop shingle must be dead for appended docs too")
    // the appended doc's un-stopped shingles still match
    val hit = Decontaminate.overlapsIncremental(spark, idx,
      Seq((2L, "z b c m n")).toDF("doc_id", "text"), minShared = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(hit == Seq((2L, 102L, 2L)),
      s"appended doc must keep its informative shingles: $hit")
  }

  test("overlapsIncrementalBloom: bit-identical to overlapsIncremental; persisted sketch in the plan; missing sketch file rebuilds") {
    import graft.land.AtomicLanding
    val idx = Spool.dir("graft-deconidx") + "/idx"
    val bench2 = bench.unionByName(Seq(
      (101L, "name the longest river in south america and its primary tributaries listed"))
      .toDF("doc_id", "text"))
    val corpus2 = corpus.unionByName(Seq(
      (4L, "intro name the longest river in south america and its primary tributaries listed outro"))
      .toDF("doc_id", "text"))
    Decontaminate.buildBenchIndex(bench, idx, batchId = Some(0L))
    Decontaminate.addToBenchIndex(spark, idx,
      bench2.filter(col("doc_id") === 101L), batchId = Some(1L))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "bench_id").collect().toSeq
    val viaBloom = Decontaminate.overlapsIncrementalBloom(spark, idx, corpus2, 10)
    assert(canon(viaBloom)
      == canon(Decontaminate.overlapsIncremental(spark, idx, corpus2, 10)),
      "the sketch is a superset filter; the exact join must equalize")
    assert(viaBloom.queryExecution.executedPlan.toString
      .contains("might_contain"), "the prefilter must survive planning")
    // the append refreshed the sketch to the live version: the probe
    // reads the FILE, never re-aggregates the bench table
    val v = AtomicLanding.currentVersion(s"$idx/bench").get
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val bloomFile = new org.apache.hadoop.fs.Path(f"$idx/bloom-v$v%010d")
    assert(fs.exists(bloomFile),
      "append must refresh the persisted sketch to its committed version")
    // vacuumed/legacy sketch file: the probe rebuilds from the slim
    // persisted table and stays exact
    fs.delete(bloomFile, false)
    assert(canon(Decontaminate.overlapsIncrementalBloom(spark, idx, corpus2, 10))
      == canon(Decontaminate.overlaps(corpus2, bench2, 10)),
      "a missing sketch file must rebuild, not miss contamination")
  }

  test("overlapsBloom: identical answer; the plan carries the bloom probe") {
    val df = Decontaminate.overlapsBloom(corpus, bench, minShared = 10)
    val ov = df.as[(Long, Long, Long)].collect().toSeq
    val exact = Decontaminate.overlaps(corpus, bench, minShared = 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(ov.sorted == exact.sorted)
    // the pre-filter is really in the plan (not optimized away)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(500))
    // a deliberately tiny, saturated sketch still yields the exact
    // answer — false positives only widen the join input
    val sat = Decontaminate.overlapsBloom(corpus, bench, minShared = 10,
        expectedItems = 4, numBits = 64)
      .as[(Long, Long, Long)].collect().toSeq
    assert(sat.sorted == exact.sorted)
  }

  test("collocations: a glued pair outranks frequent-but-independent words") {
    // "san francisco" always adjacent; "data" and "table" frequent but
    // independently placed — lift must rank the glued pair first
    val docs = (1 to 10).map(i =>
      (i.toLong, s"data w$i table san francisco data other table w$i end"))
      .toDF("doc_id", "text")
    val top = TextStats.collocations(docs, minCount = 5L)
      .orderBy(col("lift_scaled").desc, col("w1"), col("w2"))
      .as[(String, String, Long, Long)].collect()
    assert(top.head._1 == "san" && top.head._2 == "francisco")
    assert(top.head._3 == 10L) // every doc contributes the pair once
    val liftOf = top.map(r => (r._1, r._2) -> r._4).toMap
    // glued pair of two rare words: n_ab=10, n_a=n_b=10, N=100 -> lift
    // 10.0; every other stable adjacency touches a doubled word
    // (n=20 occurrences) -> exactly half the lift
    assert(liftOf(("san", "francisco")) == 10000000L)
    assert(top.tail.nonEmpty && top.tail.forall(_._4 == 5000000L))
  }

  test("repetition: a looping template scores near 1, distinct text scores 0") {
    val docs = Seq(
      (1L, Seq.fill(20)("spam spam spam").mkString(" ")),     // 60 words, 1 distinct
      (2L, (1 to 30).map(i => s"w$i").mkString(" "))          // all distinct
    ).toDF("doc_id", "text")
    val r = TextStats.repetition(docs).orderBy("doc_id")
      .as[(Long, Double, Double)].collect()
    assert(r(0)._2 > 0.95 && r(0)._3 > 0.95)
    assert(r(1)._2 == 0.0 && r(1)._3 == 0.0)
  }
}
