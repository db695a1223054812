package graft.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Spool

/** The ed ≤ 2 deletion-neighborhood scheme: signature COMPLETENESS
  * (every true ed ≤ 2 pair shares a signature — the property the join's
  * correctness rests on), equivalence with brute force on a hostile
  * random corpus, and the bucket-size bound on the shared-prefix
  * zero-padded fixture corpus (the case where PassJoin partition
  * signatures would collapse into one corpus-sized bucket). */
class FuzzyJoinSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Plain Levenshtein, local reference. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0 }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  /** Local ≤2-deletion neighborhood. */
  private def d2(s: String): Set[String] = {
    val d1 = (0 until s.length).map(i => s.take(i) + s.drop(i + 1)).toSet + s
    d1 ++ (for (i <- 0 until s.length; j <- i + 1 until s.length)
      yield s.take(i) + s.substring(i + 1, j) + s.drop(j + 1))
  }

  /** Hostile corpus: short strings over a 3-letter alphabet, so ed ≤ 2
    * pairs are dense and every edit shape (sub/ins/del/mixed) occurs. */
  private def corpus(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(42)
    (0 until n).map { _ =>
      val len = 3 + rnd.nextInt(6)
      (0 until len).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    }.distinct
  }

  test("deletion-neighborhood completeness: ed<=2 pairs always share a sig") {
    val cs = corpus(120)
    for (a <- cs; b <- cs if a < b && lev(a, b) <= 2)
      assert(d2(a).intersect(d2(b)).nonEmpty,
        s"ed=${lev(a, b)} pair ($a, $b) shares no <=2-deletion signature")
  }

  test("selfJoinEdK(2) == brute force on a dense random corpus") {
    val cs = corpus(150)
    val want = (for (a <- cs; b <- cs if a < b && lev(a, b) <= 2)
      yield (a, b)).toSet
    val got = FuzzyJoin.selfJoinEdK(cs.toDF("k"), "k", 2)
      .as[(String, String)].collect().toSet
    assert(got === want)
  }

  test("column deletionSigs2 matches the local neighborhood") {
    val cs = Seq("", "a", "ab", "abc", "Customer#000000042", "aaaa")
    val rows = cs.toDF("s")
      .select(col("s"), FuzzyJoin.deletionSigs2(col("s")).as("sigs"))
      .as[(String, Seq[String])].collect()
    rows.foreach { case (s, sigs) =>
      assert(sigs.toSet === d2(s), s"sig set mismatch for '$s'")
    }
  }

  test("addToSigIndex: grown index == rebuilt index, and replays no-op") {
    val dir = Spool.dir("graft-sigidx")
    val corpusA = (1 to 400).map(i => f"Customer#$i%09d").toDF("name")
    val batchB = (380 to 600).map(i => f"Customer#$i%09d").toDF("name")
    val probes = Seq(150, 390, 555, 999).map(i => f"Customer#$i%09d").toDF("name")

    FuzzyJoin.buildSigIndex(corpusA, "name", s"$dir/grown")
    FuzzyJoin.addToSigIndex(spark, s"$dir/grown", batchB, "name")
    FuzzyJoin.buildSigIndex(corpusA.unionByName(batchB), "name", s"$dir/fresh")

    // index CONTENT identical (overlap keys 380..400 deduped)
    def rows(p: String) = graft.land.AtomicLanding.read(spark, s"$p/sigs")
      .as[(String, Long)].collect().toSet
    assert(rows(s"$dir/grown") === rows(s"$dir/fresh"))

    // probe through each — same matches
    def probe(p: String) = FuzzyJoin.againstIndexEd1(spark, p, probes, "name")
      .as[(String, String)].collect().toSet
    val viaGrown = probe(s"$dir/grown")
    assert(viaGrown === probe(s"$dir/fresh"))
    assert(viaGrown.nonEmpty) // the probe must actually exercise matches

    // replaying the SAME batch appends nothing — not even a version
    val vBefore = graft.land.AtomicLanding.currentVersion(s"$dir/grown/sigs")
    FuzzyJoin.addToSigIndex(spark, s"$dir/grown", batchB, "name")
    assert(rows(s"$dir/grown") === rows(s"$dir/fresh"))
    assert(graft.land.AtomicLanding.currentVersion(s"$dir/grown/sigs") == vBefore,
      "a full replay must not publish a new index generation")
  }

  test("addToSigIndex identified batches: replay is a pure no-op; new ids skip the dedupe scan") {
    import graft.land.AtomicLanding
    val dir = Spool.dir("graft-sigidxbid")
    val idx = s"$dir/idx"
    val corpusA = (1 to 400).map(i => f"Customer#$i%09d").toDF("name")
    val batchB = (401 to 600).map(i => f"Customer#$i%09d").toDF("name")
    FuzzyJoin.buildSigIndex(corpusA, "name", idx, batchId = Some(0L))

    // a known-NEW identified batch commits WITHOUT the O(index) scan
    val scans0 = FuzzyJoin.dedupeSigScans.get()
    FuzzyJoin.addToSigIndex(spark, idx, batchB, "name", batchId = Some(1L))
    assert(FuzzyJoin.dedupeSigScans.get() == scans0,
      "an identified batch must never scan the live sigs")
    assert(AtomicLanding.lastBatchId(s"$idx/sigs").contains(1L),
      "the id must be durable inside the sigs manifest")

    // replaying it is a pure no-op: no version, no scan of any kind
    val v1 = AtomicLanding.currentVersion(s"$idx/sigs")
    FuzzyJoin.addToSigIndex(spark, idx, batchB, "name", batchId = Some(1L))
    assert(AtomicLanding.currentVersion(s"$idx/sigs") == v1 &&
      FuzzyJoin.dedupeSigScans.get() == scans0)

    // end state == a fresh build over the union corpus
    FuzzyJoin.buildSigIndex(corpusA.unionByName(batchB), "name", s"$dir/fresh")
    def rows(p: String) = graft.land.AtomicLanding.read(spark, s"$p/sigs")
      .as[(String, Long)].collect().toSet
    assert(rows(idx) === rows(s"$dir/fresh"))

    // the id-less fallback still dedupes — and pays the counted scan
    FuzzyJoin.addToSigIndex(spark, idx, batchB, "name")
    assert(FuzzyJoin.dedupeSigScans.get() == scans0 + 1,
      "an id-less append keeps the anti-join fallback")
    assert(rows(idx) === rows(s"$dir/fresh"),
      "the id-less replay must not duplicate rows")
  }

  test("a watermark-less sig index makes the first identified append pay the scan") {
    import graft.land.AtomicLanding
    val dir = Spool.dir("graft-signowm")
    val idx = s"$dir/idx"
    val corpusA = (1 to 200).map(i => f"Customer#$i%09d").toDF("name")
    val batchB = (201 to 300).map(i => f"Customer#$i%09d").toDF("name")
    FuzzyJoin.buildSigIndex(corpusA, "name", idx) // UNSEEDED: no watermark
    FuzzyJoin.addToSigIndex(spark, idx, batchB, "name") // id-less growth
    // replaying the id-less rows WITH an id must not duplicate them:
    // no watermark vouches the durable rows, so the scan is paid once
    val scans0 = FuzzyJoin.dedupeSigScans.get()
    FuzzyJoin.addToSigIndex(spark, idx, batchB, "name", batchId = Some(1L))
    assert(FuzzyJoin.dedupeSigScans.get() == scans0 + 1,
      "an identified append on a watermark-less table must pay the scan")
    val sigs = AtomicLanding.read(spark, s"$idx/sigs")
    assert(sigs.count() == sigs.distinct().count(),
      "the fallback anti-join must prevent the silent duplication")
    // the watermark now exists: the next identified batch skips the scan
    val batchC = (301 to 400).map(i => f"Customer#$i%09d").toDF("name")
    FuzzyJoin.addToSigIndex(spark, idx, batchC, "name", batchId = Some(2L))
    assert(FuzzyJoin.dedupeSigScans.get() == scans0 + 1,
      "once a watermark exists, identified appends skip the scan again")
  }

  test("maxBucket valve: subset of exact; cap >= max bucket is exact") {
    val cs = corpus(150)
    val df = cs.toDF("k")
    val exact = FuzzyJoin.selfJoinEdK(df, "k", 2)
      .as[(String, String)].collect().toSet
    // a tight cap loses only pairs whose every shared sig is hot —
    // always a SUBSET, never a wrong pair
    val valved = FuzzyJoin.selfJoinEdK(df, "k", 2, Some(3L))
      .as[(String, String)].collect().toSet
    assert(valved.subsetOf(exact))
    assert(valved.nonEmpty, "the dense 3-letter corpus must keep cool-bucket pairs")
    // a cap at (or above) the hottest bucket drops nothing
    val (_, _, maxB, _) = FuzzyJoin.sigCensus(df, "k", 2)
    val capped = FuzzyJoin.selfJoinEdK(df, "k", 2, Some(maxB))
      .as[(String, String)].collect().toSet
    assert(capped === exact)
  }

  test("maxBucket advisor: inert on the sparse entity corpus, engages on the dense one") {
    // sparse = the realistic entity shape (hash-suffixed keys, planted
    // typo twins — ED2_PROBE_r11's sparse leg): hottest bucket within
    // headroom of typical, so the advice must NOT engage, and applying
    // the advised cap anyway must return the exact output (inert)
    val base = spark.range(1, 3001).select(col("id"),
      concat(lit("Cust#"), substring(md5(col("id").cast("string")), 1, 9))
        .as("name"))
    val sparse = base.select(col("name"))
      .unionAll(base.where(col("id") % 50 === 0)
        .select(concat(lit("Cust#z"),
          substring(md5(col("id").cast("string")), 2, 8)).as("name")))
    val sAdvice = FuzzyJoin.recommendMaxBucket(sparse, "name", 2)
    assert(!sAdvice.engages, s"sparse corpus must be inert: $sAdvice")
    val exact = FuzzyJoin.selfJoinEdK(sparse, "name", 2)
      .as[(String, String)].collect().toSet
    val capped = FuzzyJoin.selfJoinEdK(sparse, "name", 2, Some(sAdvice.cap))
      .as[(String, String)].collect().toSet
    assert(exact.nonEmpty, "the planted twins must produce pairs")
    assert(capped === exact, "the advised cap must be a no-op on sparse")

    // dense = the adversarial sequential fixture: hot residue buckets
    // orders beyond the typical bucket — the advice must engage
    val dense = spark.range(1, 10001)
      .select(format_string("Customer#%09d", col("id")).as("name"))
    val dAdvice = FuzzyJoin.recommendMaxBucket(dense, "name", 2)
    assert(dAdvice.engages, s"dense corpus must engage: $dAdvice")
    assert(dAdvice.cap < dAdvice.maxObserved)

    // the sampled census reaches the same verdicts (the 100-TB path)
    assert(FuzzyJoin.recommendMaxBucket(dense, "name", 2,
      sampleFraction = 0.5).engages, "sampled dense census must engage")
    assert(!FuzzyJoin.recommendMaxBucket(sparse, "name", 2,
      sampleFraction = 0.5).engages, "sampled sparse census must stay inert")

    // an EMPTY census (no keys, or a sample that came back empty) has
    // no evidence to size a cap from: the advice must be inert, not NPE
    val empty = base.where(col("id") < 0)
    val eAdvice = FuzzyJoin.recommendMaxBucket(empty, "name", 2)
    assert(!eAdvice.engages && eAdvice.cap == Long.MaxValue)
    assert(eAdvice.quantileObserved == 0L && eAdvice.maxObserved == 0L)
  }

  test("Valve.Auto wires the census in: inert on sparse == exact; engaged on dense == advised cap") {
    import FuzzyJoin.Valve
    // sparse (hash-suffixed keys + planted twins): the census comes
    // back inert, so Auto must return the EXACT output — bit-identical
    // to no valve at all
    val base = spark.range(1, 2001).select(col("id"),
      concat(lit("Cust#"), substring(md5(col("id").cast("string")), 1, 9))
        .as("name"))
    val sparse = base.select(col("name"))
      .unionAll(base.where(col("id") % 50 === 0)
        .select(concat(lit("Cust#z"),
          substring(md5(col("id").cast("string")), 2, 8)).as("name")))
    assert(!FuzzyJoin.recommendMaxBucket(sparse, "name", 2).engages)
    val exact = FuzzyJoin.selfJoinEdK(sparse, "name", 2)
      .as[(String, String)].collect().toSet
    assert(exact.nonEmpty)
    assert(FuzzyJoin.selfJoinEdK(sparse, "name", 2, Valve.Auto())
      .as[(String, String)].collect().toSet === exact,
      "Auto must be inert (exact output) on the sparse corpus")
    // Off / Fixed pass through the classic semantics unchanged
    assert(FuzzyJoin.selfJoinEdK(sparse, "name", 2, Valve.Off)
      .as[(String, String)].collect().toSet === exact)

    // dense sequential keys: the census engages, and Auto must apply
    // exactly the advised cap (== Fixed(advice.cap)), a subset of exact
    val dense = spark.range(1, 2001)
      .select(format_string("Customer#%09d", col("id")).as("name"))
    val dAdvice = FuzzyJoin.recommendMaxBucket(dense, "name", 2)
    assert(dAdvice.engages, s"dense corpus must engage: $dAdvice")
    val auto = FuzzyJoin.selfJoinEdK(dense, "name", 2, Valve.Auto())
      .as[(String, String)].collect().toSet
    assert(auto === FuzzyJoin.selfJoinEdK(dense, "name", 2, Some(dAdvice.cap))
      .as[(String, String)].collect().toSet,
      "engaged Auto must apply exactly the advised cap")
    assert(auto.subsetOf(FuzzyJoin.selfJoinEdK(dense, "name", 2)
      .as[(String, String)].collect().toSet))
  }

  test("valveLoss characterizes the engaged cap's recall EXACTLY: capped ∪ loss == exact, disjointly") {
    // the dense sequential corpus where the advised cap genuinely
    // trades recall — the q_fuzzy_names_ed2_auto shape
    val dense = spark.range(1, 2001)
      .select(format_string("Customer#%09d", col("id")).as("name"))
    val advice = FuzzyJoin.recommendMaxBucket(dense, "name", 2)
    assert(advice.engages)
    val exact = FuzzyJoin.selfJoinEdK(dense, "name", 2)
      .as[(String, String)].collect().toSet
    val capped = FuzzyJoin.selfJoinEdK(dense, "name", 2, Some(advice.cap))
      .as[(String, String)].collect().toSet
    val lost = FuzzyJoin.valveLoss(dense, "name", 2, advice.cap)
      .as[(String, String)].collect().toSet
    assert(lost.nonEmpty,
      "the dense corpus's engaged cap must genuinely lose pairs — " +
        "otherwise this test proves nothing")
    assert((capped & lost).isEmpty,
      "a pair cannot be both kept and eclipsed")
    assert((capped | lost) === exact,
      "capped ∪ valveLoss must reconstruct the exact pair set — the " +
        "eclipse characterization (every shared signature hot) is exact")
  }

  test("the LOSSLESS engaged regime: a hot bucket of pairwise-ed-4 keys drops free; Auto == exact under an engaged cap") {
    // the q_fuzzy_ed2_auto_lossless gate corpus: 400 sparse hash keys
    // + one hot bucket ('mm' inserted at 20 different positions of a
    // 60-distinct-char core — all equal after deleting it)
    val core = graft.queries.Analytics.LosslessCore
    assert(core.length == 60 && core.toSet.size == 60,
      "the construction needs all-distinct core chars")
    val plantedKeys = (0 until 60 by 3)
      .map(p => core.substring(0, p) + "mm" + core.substring(p))
    // construction check, not assumption: no two insertion positions
    // are within ed 2 (a repeat-free core keeps them at ed 4)
    val worst = (for {
      a <- plantedKeys; b <- plantedKeys if a < b
    } yield { // driver-side levenshtein via Spark's expression
      spark.sql(s"SELECT levenshtein('$a', '$b')").head().getInt(0)
    }).min
    assert(worst > 2, s"planted keys must be pairwise ed > 2, got $worst")
    val corpus = spark.range(1, 401)
      .select(concat(lit("K#"),
        substring(md5(col("id").cast("string")), 1, 9)).as("name"))
      .unionByName(plantedKeys.toDF("name"))
    val advice = FuzzyJoin.recommendMaxBucket(corpus, "name", 2)
    assert(advice.engages && advice.cap < 20,
      s"the 20-key hot bucket must engage the census: $advice")
    // the engaged cap drops the hot bucket, loses NOTHING — certified
    // by the adjudication probe and by bit-equality with exact
    assert(FuzzyJoin.valveLoss(corpus, "name", 2, advice.cap)
      .as[(String, String)].collect().isEmpty,
      "no true pair may be eclipsed on this corpus")
    val exact = FuzzyJoin.selfJoinEdK(corpus, "name", 2)
      .as[(String, String)].collect().toSet
    assert(FuzzyJoin.selfJoinEdK(corpus, "name", 2, FuzzyJoin.Valve.Auto())
      .as[(String, String)].collect().toSet === exact,
      "the engaged Auto run must be EXACT in the lossless regime")
  }

  test("addToSigIndex: a crashed append publishes NOTHING; the retry lands the whole batch") {
    // the ACID commit replaces the old torn-append hazard: a crash
    // mid-append (before the pointer swing) leaves the index snapshot
    // byte-identical — there is no partial state for the retry to heal,
    // it simply commits the full batch
    val dir = Spool.dir("graft-sigcrash")
    val corpusA = (1 to 300).map(i => f"Customer#$i%09d").toDF("name")
    val batchB = (290 to 450).map(i => f"Customer#$i%09d").toDF("name")
    FuzzyJoin.buildSigIndex(corpusA, "name", s"$dir/grown")
    def rows(p: String) = graft.land.AtomicLanding.read(spark, s"$p/sigs")
      .as[(String, Long)].collect().toSet
    val preCrash = rows(s"$dir/grown")

    // crash at the worst point: batch staged and moved, pointer not yet
    // swung — readers must still see the pre-append snapshot
    intercept[RuntimeException] {
      FuzzyJoin.addToSigIndex(spark, s"$dir/grown", batchB, "name",
        beforePublish = () => throw new RuntimeException("kill -9"))
    }
    assert(rows(s"$dir/grown") === preCrash,
      "a crashed append must be invisible")

    // the retry heals: grown == fresh over the union corpus
    FuzzyJoin.addToSigIndex(spark, s"$dir/grown", batchB, "name")
    FuzzyJoin.buildSigIndex(corpusA.unionByName(batchB), "name", s"$dir/fresh")
    assert(rows(s"$dir/grown") === rows(s"$dir/fresh"),
      "retry after a crashed append must land the whole batch")
  }

  test("maintainSigIndex folds the append-session tail and vacuums; probes unchanged") {
    val dir = Spool.dir("graft-sigmaint")
    val corpusA = (1 to 200).map(i => f"Customer#$i%09d").toDF("name")
    FuzzyJoin.buildSigIndex(corpusA, "name", s"$dir/grown")
    for (lo <- Seq(201, 301, 401))
      FuzzyJoin.addToSigIndex(spark,
        s"$dir/grown", (lo until lo + 100).map(i => f"Customer#$i%09d").toDF("name"), "name")
    assert(graft.land.AtomicLanding.liveDirCount(s"$dir/grown/sigs") == 4)
    val probes = Seq(150, 250, 450).map(i => f"Customer#$i%09d").toDF("name")
    def probe() = FuzzyJoin.againstIndexEd1(spark, s"$dir/grown", probes, "name")
      .as[(String, String)].collect().toSet
    val before = probe()

    val removed = FuzzyJoin.maintainSigIndex(spark, s"$dir/grown",
      smallBytes = 512L * 1024)
    assert(graft.land.AtomicLanding.liveDirCount(s"$dir/grown/sigs") == 1,
      "the micro-batch tail must fold to one dir")
    assert(removed.nonEmpty, "superseded generations must be reclaimed")
    assert(probe() === before, "maintenance must not change probe results")

    // the maintained index keeps growing correctly afterwards
    FuzzyJoin.addToSigIndex(spark, s"$dir/grown",
      (501 to 600).map(i => f"Customer#$i%09d").toDF("name"), "name")
    FuzzyJoin.buildSigIndex(
      ((1 to 600).map(i => f"Customer#$i%09d")).toDF("name"), "name", s"$dir/fresh")
    def rows(p: String) = graft.land.AtomicLanding.read(spark, s"$p/sigs")
      .as[(String, Long)].collect().toSet
    assert(rows(s"$dir/grown") === rows(s"$dir/fresh"))
  }

  test("a probe racing an append reads a complete snapshot (never torn)") {
    val dir = Spool.dir("graft-sigrace")
    val corpusA = (1 to 300).map(i => f"Customer#$i%09d").toDF("name")
    val batchB = (290 to 450).map(i => f"Customer#$i%09d").toDF("name")
    val probes = Seq(150, 295, 420).map(i => f"Customer#$i%09d").toDF("name")
    FuzzyJoin.buildSigIndex(corpusA, "name", s"$dir/grown")
    def probe() = FuzzyJoin.againstIndexEd1(spark, s"$dir/grown", probes, "name")
      .as[(String, String)].collect().toSet
    val before = probe()

    // run the probe from INSIDE the append's pre-publish window: the
    // batch's data dir is already under data/ but the pointer has not
    // swung — the reader must resolve the OLD snapshot, bit-for-bit
    var during: Set[(String, String)] = null
    FuzzyJoin.addToSigIndex(spark, s"$dir/grown", batchB, "name",
      beforePublish = () => { during = probe() })
    assert(during === before,
      "mid-append probe must see exactly the pre-append snapshot")

    // and after the pointer swing the new keys match
    val after = probe()
    assert(before.subsetOf(after) && after.size > before.size,
      "post-append probe must see the appended keys' matches")
  }

  test("bucket sizes stay bounded on the shared-prefix fixture corpus") {
    // Zero-padded names — every key opens "Customer#"; a partition
    // (prefix-segment) signature scheme buckets ALL of them together.
    // Deletion signatures carry the residual digits, so the hottest
    // bucket (a low-entropy mostly-zeros residue like "0000005",
    // reachable from every name with <= 2 significant digits in the
    // right places) holds hundreds of keys out of tens of thousands —
    // and grows SUB-linearly with the corpus (measured 810 → 1206 →
    // 1683 at 10k → 100k → 1M): bucket size is set by digit
    // combinatorics around the residue, not corpus size.
    def stats(n: Int): (Long, Double) = {
      val names = spark.range(1, n + 1)
        .select(format_string("Customer#%09d", col("id")).as("k"))
      val r = names
        .select(explode(FuzzyJoin.deletionSigs2(col("k"))).as("sig"))
        .groupBy("sig").agg(count(lit(1)).as("n"))
        .agg(max("n"), avg("n")).head()
      (r.getLong(0), r.getDouble(1))
    }
    val (max10k, avg10k) = stats(10000)
    assert(max10k <= 1000, s"hot bucket of $max10k keys at 10k — collapsing")
    assert(avg10k < 4.0, s"mean bucket $avg10k — signatures not discriminating")
    val (max100k, _) = stats(100000)
    // 10x the corpus must far less than 10x the hot bucket
    assert(max100k < max10k * 2,
      s"hot bucket grew $max10k -> $max100k on 10x corpus — not sub-linear")
  }
}
