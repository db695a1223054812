package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.Spool

class RetrievalSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "spark runs the query fast"),
    (2L, "the query planner joins tables"),
    (3L, "dogs chase the ball"),
    (4L, "query query query engines"),
    (5L, "a lone document about nothing"),
  ).toDF("doc_id", "text")

  private def q(rows: (Long, String)*) = rows.toDF("query_id", "qtext")

  /** Hand-computed mirror of the documented integer formula. */
  private def contrib(idfScale: Long, n: Long, df: Long, tf: Long,
      dl: Long, avgdl: Long, qtf: Long): Long = {
    val idf = (idfScale * (2 * n - 2 * df + 1)) / (2 * df + 1)
    qtf * ((idf * 44 * tf * avgdl) / (20 * tf * avgdl + 6 * avgdl + 18 * dl))
  }

  test("single-term query ranks by tf saturation + idf, hand-checked") {
    // corpus: N=5, total tokens 5+5+4+4+5=23, avgdl = 23 div 5 = 4
    // 'query' df=3: docs 1 (tf=1, dl=5), 2 (tf=1, dl=5), 4 (tf=3, dl=4)
    val r = Retrieval.bm25TopK(corpus, q(0L -> "query"), k = 3)
      .orderBy("rnk").collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(4L, 1L, 2L))
    val idf = (1000L * (2 * 5 - 2 * 3 + 1)) / (2 * 3 + 1) // = 714
    assert(r(0).getAs[Long]("score_scaled") ==
      contrib(1000L, 5, 3, 3, 4, 4, 1))
    assert(r(1).getAs[Long]("score_scaled") ==
      contrib(1000L, 5, 3, 1, 5, 4, 1))
    // docs 1 and 2 tie exactly (same tf, dl) -> doc_id asc breaks it
    assert(r(1).getAs[Long]("score_scaled") == r(2).getAs[Long]("score_scaled"))
    assert(idf == 714L)
  }

  test("multi-term query sums contributions; rarer term dominates") {
    // 'spark' df=1 (rare), 'the' df=3 (common): doc 1 has both
    val r = Retrieval.bm25TopK(corpus, q(0L -> "spark the"), k = 5)
      .orderBy("rnk").collect()
    assert(r.head.getAs[Long]("doc_id") == 1L)
    // every matched doc appears exactly once per query
    assert(r.map(_.getAs[Long]("doc_id")).distinct.length == r.length)
  }

  test("repeated query terms weight linearly (qtf)") {
    val once = Retrieval.bm25TopK(corpus, q(0L -> "spark"), k = 1).collect()
    val twice = Retrieval.bm25TopK(corpus, q(0L -> "spark spark"), k = 1).collect()
    assert(twice.head.getAs[Long]("score_scaled") ==
      2 * once.head.getAs[Long]("score_scaled"))
  }

  test("no-match query emits no rows; short match emits < k rows") {
    val r = Retrieval.bm25TopK(corpus,
      q(0L -> "zzz", 1L -> "dogs"), k = 10).collect()
    assert(r.forall(_.getAs[Long]("query_id") == 1L))
    assert(r.length == 1 && r.head.getAs[Long]("doc_id") == 3L)
  }

  test("idf decreases with df (rarity ordering across terms)") {
    // same tf=1 and same doc length, so ranking is pure idf
    val d = Seq(
      (1L, "rare common filler pad"),
      (2L, "common filler pad word"),
      (3L, "common filler pad word"),
    ).toDF("doc_id", "text")
    val r = Retrieval.bm25TopK(d, q(0L -> "rare", 1L -> "common"), k = 1)
      .orderBy("query_id").collect()
    assert(r(0).getAs[Long]("score_scaled") > r(1).getAs[Long]("score_scaled"))
  }

  test("query-side tables broadcast; corpus side never does") {
    val plan = Retrieval.bm25TopK(corpus, q(0L -> "query engines"), k = 3)
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    // qvocab, df, qterms, stats — all bounded-side broadcasts
    assert(bhj.nonEmpty)
    // with broadcastQueries=false only the one-row stats join may build
    // a broadcast side; both scoring joins must shuffle on `term`
    val noHint = Retrieval.bm25TopK(corpus, q(0L -> "query engines"), k = 3,
      broadcastQueries = false)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p2 = Retrieval.bm25TopK(corpus, q(0L -> "query engines"), k = 3,
        broadcastQueries = false).queryExecution.executedPlan
      // the one-row stats broadcast is a nested-loop cross join, not a
      // hash join — so ZERO BroadcastHashJoins may remain: both scoring
      // joins shuffle on `term`
      val b2 = collectWithSubqueries(p2) { case j: BroadcastHashJoinExec => j }
      assert(b2.isEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(noHint.count() == 3)
  }

  test("posting-list cap drops long lists; survivors score unchanged") {
    // 'the' (df=3) exceeds maxDf=2 and is cut; 'spark' (df=1) survives.
    // The capped two-term query must therefore equal the uncapped
    // single-term 'spark' query row-for-row — the cap filters TERMS,
    // never rescales survivors.
    val capped = Retrieval.bm25TopK(corpus, q(0L -> "spark the"), k = 5,
      maxDf = Some(2L)).orderBy("rnk").collect().toSeq
    val sparkOnly = Retrieval.bm25TopK(corpus, q(0L -> "spark"), k = 5)
      .orderBy("rnk").collect().toSeq
    assert(capped == sparkOnly)
    // a cap >= every df keeps everything — identical to uncapped
    val full = Retrieval.bm25TopK(corpus, q(0L -> "spark the"), k = 5,
      maxDf = Some(5L)).orderBy("rnk").collect().toSeq
    val uncapped = Retrieval.bm25TopK(corpus, q(0L -> "spark the"), k = 5)
      .orderBy("rnk").collect().toSeq
    assert(full == uncapped)
  }

  test("maxDf advisor: engages on a stopword corpus, inert on a uniform one") {
    // stopword corpus: one term in EVERY doc, content terms rare — the
    // quadratic tail the valve exists for
    val stopCorpus = spark.range(0, 2000).select(col("id").as("doc_id"),
      concat(lit("the w"), col("id").cast("string")).as("text"))
    val sAdvice = Retrieval.recommendMaxDf(stopCorpus)
    assert(sAdvice.engages, s"stopword corpus must engage: $sAdvice")
    assert(sAdvice.cap < sAdvice.maxObserved)
    assert(sAdvice.maxObserved == 2000L) // 'the' posting list

    // uniform corpus: every term in exactly 3 docs (sliding window) —
    // hottest df == typical df, the advice must be inert, and scoring
    // with the advised cap must be bit-identical to uncapped
    val uniform = spark.range(0, 500).select(col("id").as("doc_id"),
      concat_ws(" ",
        concat(lit("w"), (col("id") % 500).cast("string")),
        concat(lit("w"), ((col("id") + 1) % 500).cast("string")),
        concat(lit("w"), ((col("id") + 2) % 500).cast("string"))).as("text"))
    val uAdvice = Retrieval.recommendMaxDf(uniform)
    assert(!uAdvice.engages, s"uniform corpus must be inert: $uAdvice")
    val queries = q(0L -> "w13 w77", 1L -> "w250")
    assert(Retrieval.bm25TopK(uniform, queries, k = 4,
        maxDf = Some(uAdvice.cap)).orderBy("query_id", "rnk").collect().toSeq ==
      Retrieval.bm25TopK(uniform, queries, k = 4)
        .orderBy("query_id", "rnk").collect().toSeq,
      "the advised cap must not change scores on a uniform corpus")

    // the sampled census reaches the same verdict (the 100-TB path)
    assert(Retrieval.recommendMaxDf(stopCorpus, sampleFraction = 0.5).engages)

    // an empty corpus (or empty sample) yields inert advice, never NPE
    val eAdvice = Retrieval.recommendMaxDf(stopCorpus.where(col("doc_id") < 0))
    assert(!eAdvice.engages && eAdvice.cap == Long.MaxValue)

    // Valve.Auto wires the census in: engaged on the stopword corpus
    // it must score exactly as the advised Fixed cap; inert on the
    // uniform corpus it must be bit-identical to uncapped
    import graft.ext.FuzzyJoin.Valve
    val sq = q(0L -> "the w7", 1L -> "w100")
    assert(Retrieval.bm25TopK(stopCorpus, sq, k = 4, Valve.Auto())
        .orderBy("query_id", "rnk").collect().toSeq ==
      Retrieval.bm25TopK(stopCorpus, sq, k = 4, maxDf = Some(sAdvice.cap))
        .orderBy("query_id", "rnk").collect().toSeq,
      "engaged Auto must apply exactly the advised cap")
    assert(Retrieval.bm25TopK(uniform, queries, k = 4, Valve.Auto())
        .orderBy("query_id", "rnk").collect().toSeq ==
      Retrieval.bm25TopK(uniform, queries, k = 4)
        .orderBy("query_id", "rnk").collect().toSeq,
      "inert Auto must be bit-identical to uncapped")
  }

  test("indexed path is bit-identical to inline, incl. capped and shuffle duals") {
    val dir = Spool.dir("graft-bm25idx-spec") + "/idx"
    Retrieval.buildIndex(corpus, dir)
    val queries = q(0L -> "spark the query", 1L -> "dogs chase",
      2L -> "query query engines", 3L -> "nomatch")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rnk").collect().toSeq
    // default broadcast path
    assert(canon(Retrieval.bm25TopKIndexed(spark, dir, queries, k = 3)) ==
      canon(Retrieval.bm25TopK(corpus, queries, k = 3)))
    // posting-list cap filters the prebuilt df table identically
    assert(canon(Retrieval.bm25TopKIndexed(spark, dir, queries, k = 3,
        maxDf = Some(2L))) ==
      canon(Retrieval.bm25TopK(corpus, queries, k = 3, maxDf = Some(2L))))
    // corpus-scale shuffle dual over the index
    assert(canon(Retrieval.bm25TopKIndexed(spark, dir, queries, k = 3,
        broadcastQueries = false)) ==
      canon(Retrieval.bm25TopK(corpus, queries, k = 3,
        broadcastQueries = false)))
  }

  test("addToIndex: grown == rebuilt; replay no-op; df maintenance is O(batch)") {
    val base = Spool.dir("graft-bm25grow")
    val half1 = corpus.where($"doc_id" <= 2)
    val half2 = corpus.where($"doc_id" > 2)
    Retrieval.buildIndex(half1, s"$base/grown")
    val dirs0 = Retrieval.dfDeltaPostingDirs.get()
    val rebuilds0 = Retrieval.derivedRebuilds.get()
    Retrieval.addToIndex(spark, s"$base/grown", half2)
    // the O(batch) claim, measured: the append's df/stats refresh read
    // exactly the ONE postings dir it committed — never the index
    assert(Retrieval.dfDeltaPostingDirs.get() - dirs0 == 1,
      "df maintenance must fold exactly the appended dir")
    assert(Retrieval.derivedRebuilds.get() == rebuilds0,
      "an append must never trigger the O(index) rebuild path")
    Retrieval.buildIndex(corpus, s"$base/fresh")

    def part(p: String, sub: String) =
      graft.land.AtomicLanding.read(spark, s"$p/$sub")
        .collect().map(_.toSeq).toSet
    for (sub <- Seq("postings", "derived"))
      assert(part(s"$base/grown", sub) === part(s"$base/fresh", sub),
        s"$sub must match a fresh build over the union corpus")

    // scores through the grown index == inline over the union corpus
    val queries = q(0L -> "spark the query", 1L -> "dogs chase")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rnk").collect().toSeq
    assert(canon(Retrieval.bm25TopKIndexed(spark, s"$base/grown", queries, k = 3)) ==
      canon(Retrieval.bm25TopK(corpus, queries, k = 3)))

    // replaying the same batch appends nothing — not even a version
    val pv = graft.land.AtomicLanding.currentVersion(s"$base/grown/postings")
    Retrieval.addToIndex(spark, s"$base/grown", half2)
    assert(graft.land.AtomicLanding.currentVersion(s"$base/grown/postings") == pv,
      "a full replay must not publish a new postings generation")
    assert(part(s"$base/grown", "postings") === part(s"$base/fresh", "postings"))
  }

  test("crash between postings commit and derived refresh is unobservable") {
    // the crash window the LinkedRoot closes: an appender committed its
    // postings batch but died before the root swing. The root pin is
    // unchanged, so probes read the all-old pinned generation (exact,
    // read-only); the next writer folds the orphaned dir additively.
    import graft.land.AtomicLanding
    val base = Spool.dir("graft-bm25crash")
    Retrieval.buildIndex(corpus, s"$base/grown")
    val batch3 = Seq((6L, "query planner dogs")).toDF("doc_id", "text")
    val root0 = AtomicLanding.linkedSnapshot(s"$base/grown").get

    // stage the crash through the protocol's OWN seam: addToIndex dies
    // between its postings commit and the root publish
    final class Crash extends RuntimeException("die before root swing")
    intercept[Crash] {
      Retrieval.addToIndex(spark, s"$base/grown", batch3,
        beforeRootPublish = () => throw new Crash)
    }
    // postings' live pointer ran AHEAD of the root pin...
    val snap1 = AtomicLanding.linkedSnapshot(s"$base/grown").get
    assert(snap1.rootVersion == root0.rootVersion &&
      snap1.members == root0.members,
      "a crash before the root swing must leave the root pin unchanged")
    assert(AtomicLanding.currentVersion(s"$base/grown/postings").get >
      snap1.members("postings"),
      "the crashed batch's postings commit is durable but unreachable")

    // (a) a probe during the window is EXACT at the pinned (old)
    // generation — batch3 is invisible until a writer publishes it
    val queries = q(0L -> "spark the query planner", 1L -> "dogs chase")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rnk").collect().toSeq
    Retrieval.buildIndex(corpus, s"$base/fresh5")
    assert(canon(Retrieval.bm25TopKIndexed(spark, s"$base/grown", queries, k = 3)) ==
      canon(Retrieval.bm25TopKIndexed(spark, s"$base/fresh5", queries, k = 3)),
      "a probe inside the crash window must score exactly at the pinned generation")
    // ...and it published nothing: the root is untouched after the probe
    assert(AtomicLanding.linkedSnapshot(s"$base/grown").get == snap1,
      "the probe must be read-only (no root swing, no member commit)")

    // (b) the next append folds the orphaned dir ADDITIVELY (no
    // rebuild; exactly batch3's dir + its own), then publishes: end
    // state == fresh build over everything
    val rebuilds0 = Retrieval.derivedRebuilds.get()
    val dirs0 = Retrieval.dfDeltaPostingDirs.get()
    val batch4 = Seq((7L, "ball engines nothing")).toDF("doc_id", "text")
    Retrieval.addToIndex(spark, s"$base/grown", batch4)
    assert(Retrieval.derivedRebuilds.get() == rebuilds0,
      "healing a missed append must stay on the additive path")
    assert(Retrieval.dfDeltaPostingDirs.get() - dirs0 == 2,
      "the fold must read exactly the orphaned dir plus the new batch's dir")
    assert(AtomicLanding.linkedSnapshot(s"$base/grown").get.members("postings") ==
      AtomicLanding.currentVersion(s"$base/grown/postings").get,
      "the healing append must pin the root at the live postings version")
    Retrieval.buildIndex(corpus.unionByName(batch3).unionByName(batch4),
      s"$base/fresh7")
    def part(p: String, sub: String) =
      graft.land.AtomicLanding.read(spark, s"$p/$sub")
        .collect().map(_.toSeq).toSet
    for (sub <- Seq("postings", "derived"))
      assert(part(s"$base/grown", sub) === part(s"$base/fresh7", sub),
        s"$sub must heal to the fresh-build state")
  }

  test("maintainIndex: folds the append tail, restamps derived without a rebuild, vacuums") {
    val base = Spool.dir("graft-bm25maint")
    val idx = s"$base/idx"
    Retrieval.buildIndex(corpus.where($"doc_id" <= 2), idx)
    // a 3-batch append session: postings grow one dir per batch
    for (d <- 3L to 5L)
      Retrieval.addToIndex(spark, idx, corpus.where($"doc_id" === d))
    assert(graft.land.AtomicLanding.liveDirCount(s"$idx/postings") == 4)

    val rebuilds0 = Retrieval.derivedRebuilds.get()
    val removed = Retrieval.maintainIndex(spark, idx, smallBytes = 512L * 1024)
    // the tail folded to one dir; derived was RESTAMPED, never rebuilt
    assert(graft.land.AtomicLanding.liveDirCount(s"$idx/postings") == 1)
    assert(Retrieval.derivedRebuilds.get() == rebuilds0,
      "maintenance must not pay the O(index) rebuild for a row-preserving fold")
    val snapM = graft.land.AtomicLanding.linkedSnapshot(idx).get
    assert(snapM.members("postings") ==
      graft.land.AtomicLanding.currentVersion(s"$idx/postings").get,
      "the root must pin postings at the compacted version")
    assert(snapM.members("derived") ==
      graft.land.AtomicLanding.currentVersion(s"$idx/derived").get,
      "the root must pin the live derived generation")
    assert(removed.nonEmpty, "superseded generations must be reclaimed")

    // scores after maintenance == a fresh build over the same corpus
    Retrieval.buildIndex(corpus, s"$base/fresh")
    val queries = q(0L -> "spark the query", 1L -> "dogs chase")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rnk").collect().toSeq
    assert(canon(Retrieval.bm25TopKIndexed(spark, idx, queries, k = 3)) ==
      canon(Retrieval.bm25TopKIndexed(spark, s"$base/fresh", queries, k = 3)))

    // and the maintained index keeps growing correctly afterwards
    Retrieval.addToIndex(spark, idx,
      Seq((6L, "query planner dogs")).toDF("doc_id", "text"))
    assert(canon(Retrieval.bm25TopKIndexed(spark, idx, queries, k = 3)) ==
      canon(Retrieval.bm25TopK(corpus.unionByName(
        Seq((6L, "query planner dogs")).toDF("doc_id", "text")), queries, k = 3)))
  }

  test("maintainIndex folds a concurrent append's ridden-along batch additively") {
    // the compaction rebase can carry a micro-batch INTO the compacted
    // manifest; maintainIndex must identify it (the fold dir is the
    // last manifest line) and fold its delta instead of rebuilding
    val base = Spool.dir("graft-bm25maintrace")
    val idx = s"$base/idx"
    Retrieval.buildIndex(corpus.where($"doc_id" <= 2), idx)
    for (d <- 3L to 4L)
      Retrieval.addToIndex(spark, idx, corpus.where($"doc_id" === d))
    // stage the race: doc 5's postings land as a concurrent append
    // INSIDE the maintenance fold's pre-publish window (the
    // beforeFoldCommit seam), exactly as a live ingest would — the
    // compaction rebase carries the batch into the compacted manifest
    Retrieval.buildIndex(corpus.where($"doc_id" === 5), s"$base/side")
    val sideDf = graft.land.AtomicLanding.read(spark, s"$base/side/postings")
    val rebuilds0 = Retrieval.derivedRebuilds.get()
    val removed = Retrieval.maintainIndex(spark, idx,
      smallBytes = 512L * 1024,
      beforeFoldCommit = () => { graft.land.AtomicLanding.commit(sideDf,
        s"$idx/postings", append = true); () })
    assert(Retrieval.derivedRebuilds.get() == rebuilds0,
      "the ridden-along batch must fold additively, not rebuild")
    assert(removed.nonEmpty)
    // scores == fresh build over ALL five docs + doc 5's batch
    Retrieval.buildIndex(corpus, s"$base/fresh")
    val queries = q(0L -> "spark the query", 1L -> "dogs chase",
      2L -> "lone document")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rnk").collect().toSeq
    assert(canon(Retrieval.bm25TopKIndexed(spark, idx, queries, k = 3)) ==
      canon(Retrieval.bm25TopKIndexed(spark, s"$base/fresh", queries, k = 3)))
  }

  test("a probe racing an index append reads a complete snapshot") {
    val base = Spool.dir("graft-bm25race")
    Retrieval.buildIndex(corpus, s"$base/idx")
    val queries = q(0L -> "query planner dogs")
    def probe() = Retrieval.bm25TopKIndexed(spark, s"$base/idx", queries, k = 5)
      .orderBy("rnk").collect().toSeq
    val before = probe()
    // probe from INSIDE the append's pre-publish window: batch staged
    // and moved under data/, pointer not yet swung
    var during: Seq[org.apache.spark.sql.Row] = null
    Retrieval.addToIndex(spark, s"$base/idx",
      Seq((6L, "query planner dogs")).toDF("doc_id", "text"),
      beforePublish = () => { during = probe() })
    assert(during == before,
      "mid-append probe must score the pre-append snapshot exactly")
    val after = probe()
    assert(after != before && after.exists(_.getAs[Long]("doc_id") == 6L),
      "post-append probe must rank the appended doc")
  }

  test("identified batches: replay heals with zero scans; new ids skip the dedupe anti-join") {
    import graft.land.AtomicLanding
    val base = Spool.dir("graft-bm25batchid")
    val idx = s"$base/idx"
    Retrieval.buildIndex(corpus.where($"doc_id" <= 3), idx,
      batchId = Some(0L)) // seed watermark vouches the build corpus
    val batch1 = corpus.where($"doc_id" === 4)
    val batch2 = corpus.where($"doc_id" === 5)

    // a known-NEW identified batch commits WITHOUT the O(index)
    // anti-join: exactly-once comes from the monotone id
    val scans0 = Retrieval.dedupeIndexScans.get()
    Retrieval.addToIndex(spark, idx, batch1, batchId = Some(1L))
    assert(Retrieval.dedupeIndexScans.get() == scans0,
      "an identified batch must never scan the live index")
    assert(AtomicLanding.lastBatchId(s"$idx/postings").contains(1L),
      "the id must be durable inside the postings manifest")

    // replaying the published batch is a zero-cost no-op: no postings
    // version, no derived fold, no scan of index OR batch
    val pv = AtomicLanding.currentVersion(s"$idx/postings")
    val dirs0 = Retrieval.dfDeltaPostingDirs.get()
    Retrieval.addToIndex(spark, idx, batch1, batchId = Some(1L))
    assert(AtomicLanding.currentVersion(s"$idx/postings") == pv,
      "a replayed identified batch must not publish a postings generation")
    assert(Retrieval.dedupeIndexScans.get() == scans0 &&
      Retrieval.dfDeltaPostingDirs.get() == dirs0,
      "a fully-published replay must read nothing at all")

    // crash-replay: batch2 commits (id durable) but the root never
    // swings; the identified retry heals the root by folding exactly
    // the orphaned dir — still zero dedupe scans, no rebuild
    final class Crash extends RuntimeException("die before root swing")
    intercept[Crash] {
      Retrieval.addToIndex(spark, idx, batch2, batchId = Some(2L),
        beforeRootPublish = () => throw new Crash)
    }
    val scans1 = Retrieval.dedupeIndexScans.get()
    val dirs1 = Retrieval.dfDeltaPostingDirs.get()
    val rebuilds1 = Retrieval.derivedRebuilds.get()
    Retrieval.addToIndex(spark, idx, batch2, batchId = Some(2L))
    assert(Retrieval.dedupeIndexScans.get() == scans1,
      "the crash-replay heal must not scan the live index")
    assert(Retrieval.dfDeltaPostingDirs.get() - dirs1 == 1,
      "the heal must fold exactly the crashed batch's dir")
    assert(Retrieval.derivedRebuilds.get() == rebuilds1)
    assert(AtomicLanding.linkedSnapshot(idx).get.members("postings") ==
      AtomicLanding.currentVersion(s"$idx/postings").get)

    // end state == a fresh build over the full corpus, bit-identical
    Retrieval.buildIndex(corpus, s"$base/fresh")
    def part(p: String, sub: String) =
      AtomicLanding.read(spark, s"$p/$sub").collect().map(_.toSeq).toSet
    for (sub <- Seq("postings", "derived"))
      assert(part(idx, sub) === part(s"$base/fresh", sub),
        s"$sub must match a fresh build after identified growth")

    // the id-less fallback still dedupes exactly — and pays the
    // counted scan (the proof the fast path skipped it above)
    Retrieval.addToIndex(spark, idx, batch2)
    assert(Retrieval.dedupeIndexScans.get() == scans1 + 1,
      "an id-less append keeps the anti-join fallback")
    assert(part(idx, "postings") === part(s"$base/fresh", "postings"),
      "the id-less replay must not duplicate rows")
  }

  test("indexed scoring plans no Generate: the text explode ran at build") {
    import org.apache.spark.sql.execution.SparkPlan
    val dir = Spool.dir("graft-bm25idx-plan") + "/idx"
    Retrieval.buildIndex(corpus, dir)
    val plan = Retrieval.bm25TopKIndexed(spark, dir, q(0L -> "spark query"),
      k = 3).queryExecution.executedPlan
    def countGen(p: SparkPlan): Int =
      collectWithSubqueries(p) {
        case g: org.apache.spark.sql.execution.GenerateExec
          // the query-side explode (bounded batch) is expected; corpus-
          // side Generates would mean the postings read re-exploded text
          if g.output.exists(_.name == "tc") => g
      }.size
    assert(countGen(plan) == 0,
      "corpus-side word_counts Generate in the indexed scoring plan")
  }

  test("matches a naive exploded-join reference on the fixture corpus") {
    import org.apache.spark.sql.functions._
    val fixture = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val queries = q(0L -> "spark query", 1L -> "the window filter",
      2L -> "customer order")
    val fast = Retrieval.bm25TopK(fixture, queries, k = 5)
      .orderBy("query_id", "rnk")
      .collect().toSeq

    // reference: explode + groupBy + window, double-checked arithmetic
    val toks = fixture.select(col("doc_id"),
      explode(split(col("text"), " ", -1)).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("n_tok"))
      .select(col("n_docs"), expr("n_tok div n_docs").as("avgdl"))
    val qt = queries.select(col("query_id"),
        explode(split(col("qtext"), " ", -1)).as("term"))
      .groupBy("query_id", "term").agg(count(lit(1)).as("qtf"))
    val dfT = tf.join(qt.select("term").distinct(), "term")
      .groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dl, "doc_id").join(dfT, "term").join(qt, "term")
      .crossJoin(stats)
      .withColumn("idf", expr("(1000 * (2*n_docs - 2*df + 1)) div (2*df + 1)"))
      .withColumn("c", expr(
        "qtf * ((idf * 44 * tf * avgdl) div (20*tf*avgdl + 6*avgdl + 18*dl))"))
      .groupBy("query_id", "doc_id").agg(sum("c").as("score_scaled"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("score_scaled").desc, col("doc_id").asc)
    val ref = scored
      .withColumn("rnk", row_number().over(win).cast("long"))
      .filter(col("rnk") <= 5)
      .select("query_id", "rnk", "doc_id", "score_scaled")
      .orderBy("query_id", "rnk")
      .collect().toSeq
    assert(fast == ref)
  }
}
