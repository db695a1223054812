package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away now"), // near-dup of 1
    (3L, "completely different content about spark partitions and shuffle joins here"),
    (4L, "completely different content about spark partitions and shuffle joins here"), // exact dup of 3
    (5L, "tiny doc"),
  ).toDF("doc_id", "text")


  test("duplicateSpans: embedded boilerplate yields merged maximal spans, unique text none") {
    val d = Seq(
      // docs 10/11 embed the same 7-word boilerplate at different offsets
      // inside otherwise-unique text; doc 12 is fully unique
      (10L, "u1 u2 u3 please read the following terms and conditions carefully t1 t2 t3"),
      (11L, "v1 v2 please read the following terms and conditions carefully w1 w2 w3 w4"),
      (12L, "totally unique words that appear nowhere else in this tiny corpus at all")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, n = 5)
      .as[(Long, Long, Long)].collect().toSet
    // the 8-word boilerplate sits at words 4..11 of doc 10 (1-based) and
    // 3..10 of doc 11: its four overlapping duplicated 5-grams merge
    // into ONE maximal span each; the unique doc yields nothing
    assert(spans == Set((10L, 4L, 11L), (11L, 3L, 10L)))
  }

  test("duplicateSpans merges adjacent-but-disjoint hits and keeps separated ones apart") {
    val rep = "r1 r2 r3 r4 r5"
    val d = Seq(
      (1L, s"$rep a b c d e f g h $rep"),   // two separated copies -> two spans
      (2L, s"$rep $rep")                    // adjacent copies -> one merged span
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, n = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(spans.contains((2L, 1L, 10L)))   // merged across the boundary
    assert(spans.exists(s => s._1 == 1L && s._2 == 1L))
    assert(spans.exists(s => s._1 == 1L && s._3 == 18L))
  }


  test("duplicateSpans invariants hold on arbitrary corpora (scalacheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // tiny vocab forces shared n-grams; docs of 0..20 words
    val docGen = Gen.listOfN(8,
      Gen.chooseNum(0, 20).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))))
    val prop = Prop.forAllNoShrink(docGen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val spans = Dedup.duplicateSpans(df, n = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val lens = texts.zipWithIndex
        .map { case (t, i) => i.toLong -> t.split(" ", -1).length.toLong }.toMap
      spans.forall { case (d, s, e) => s >= 1 && s <= e && e <= lens(d) } &&
        spans.groupBy(_._1).forall { case (_, sp) =>
          // maximal merge: consecutive spans per doc are separated by
          // a gap of at least one word (else they would have merged)
          sp.sortBy(_._2).sliding(2).forall {
            case Array((_, _, e1), (_, s2, _)) => s2 > e1 + 1
            case _ => true
          }
        }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("scrubSpans cuts duplicated spans out, leaves unique docs untouched") {
    val d = Seq(
      (10L, "u1 u2 u3 please read the following terms and conditions carefully t1 t2 t3"),
      (11L, "v1 v2 please read the following terms and conditions carefully w1 w2 w3 w4"),
      (12L, "totally unique words that appear nowhere else in this tiny corpus at all")
    ).toDF("doc_id", "text")
    val out = Dedup.scrubSpans(d, n = 5)
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(10L) == ((6L, "u1 u2 u3 t1 t2 t3")))      // span 4..11 removed
    assert(out(11L) == ((6L, "v1 v2 w1 w2 w3 w4")))      // span 3..10 removed
    assert(out(12L)._1 == 13L)                           // untouched
    assert(out(12L)._2.startsWith("totally unique"))
  }

  test("exactDupGroups collapses identical texts to one group") {
    val g = Dedup.exactDupGroups(docs).collect()
    assert(g.length == 4) // 3+4 share a fingerprint
    val dupGroup = g.find(_.getAs[Long]("n_copies") == 2).get
    assert(dupGroup.getAs[Long]("canonical_id") == 3L)
  }

  test("minhash LSH finds the near-dup pair and verifies exact jaccard") {
    val pairs = Dedup.minhashNearDupPairs(docs, threshold = 0.6).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L), (3L, 4L)))
    val j12 = pairs.find(r => r.getLong(0) == 1L).get.getDouble(2)
    // 13-word docs differing in the last word: 11 shingles, 10 shared
    assert(j12 > 0.8 && j12 < 1.0)
    val j34 = pairs.find(r => r.getLong(0) == 3L).get.getDouble(2)
    assert(j34 == 1.0)
  }

  test("candidate generation is bucketed, not all-pairs") {
    val sigs = Dedup.minhashSignatures(docs)
    val cand = Dedup.candidatePairs(sigs).count()
    assert(cand < 10) // 5 docs -> 10 possible pairs; buckets prune most
  }

  test("minhash signatures are deterministic across invocations") {
    val a = Dedup.minhashSignatures(docs).orderBy("doc_id")
      .select("sig").as[Seq[Long]].collect()
    val b = Dedup.minhashSignatures(docs).orderBy("doc_id")
      .select("sig").as[Seq[Long]].collect()
    assert(a.toSeq == b.toSeq)
    assert(a.forall(_.length == Dedup.MinhashK))
  }

  test("simhash: identical docs at hamming 0, near-dups close, rest far") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((3L, 4L)) == 0)
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("simhash band defs tile all 60 bits (pigeonhole precondition)") {
    val covered = Dedup.simhashBandDefs.flatMap { case (off, w) => off until (off + w) }
    assert(covered.sorted == (0 until 60))
  }

  test("size-blocked ngram jaccard equals the minhash answer on the fixture") {
    val fixture = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val ng = Dedup.ngramJaccardPairs(fixture, 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val mh = Dedup.minhashNearDupPairs(fixture, 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(ng == mh) // two candidate strategies, one exact answer
  }

  test("inverted-index jaccard: exact value for unequal-length docs") {
    // 12 vs 13 shingles, all 12 shared: jaccard = 12/13 exactly
    val base = (1 to 14).map(i => s"w$i").mkString(" ")       // 12 shingles
    val longer = (1 to 15).map(i => s"w$i").mkString(" ")     // 13 shingles
    for ((idShort, idLong) <- Seq((1L, 2L), (2L, 1L))) {
      val d = Seq((idShort, base), (idLong, longer)).toDF("doc_id", "text")
      val rows = Dedup.ngramJaccardPairs(d, threshold = 0.6).collect()
      assert(rows.length == 1, s"ids ($idShort,$idLong)")
      assert((rows.head.getLong(0), rows.head.getLong(1)) == (1L, 2L))
      assert(rows.head.getDouble(2) == 12.0 / 13.0)
    }
  }

  test("planted fixture pairs: simhash hits are a subset of jaccard hits") {
    val fixture = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val mh = Dedup.minhashNearDupPairs(fixture, 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val sh = Dedup.simhashPairs(fixture, 7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(mh.size >= 25 && sh.size >= 25) // the planted near-dup pairs
    // hamming <= 7 on shingle simhash implies near-identical shingle sets,
    // so every simhash pair must clear the 0.6-Jaccard bar; the converse
    // is not true (borderline 0.6-0.9 pairs can sit at hamming 8-14)
    assert(sh.subsetOf(mh))
  }

  test("dictionary-join simhash signatures equal the per-occurrence ones bit-for-bit") {
    val fixture = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val base = Dedup.simhashSignatures(fixture).orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    val dict = Reference.simhashSignaturesDict(fixture).orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    assert(base == dict)
    assert(base.nonEmpty)
  }
}
