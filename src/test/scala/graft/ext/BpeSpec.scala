package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.TestSpark
import graft.queries.Spool

class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("encode follows the merges table rank order") {
    val t = Bpe.Standard
    assert(t.encode("the").toSeq == Seq("the"))
    assert(t.encode("and").toSeq == Seq("and"))
    // (t,h) rank 0 wins over (i,t): w-i-th-in, then (i,n) merges
    assert(t.encode("within").toSeq == Seq("w", "i", "th", "in"))
    // composite chain: h+a -> ha, v+e -> ve, ha+ve -> have
    assert(t.encode("have").toSeq == Seq("have"))
    assert(t.encode("a").toSeq == Seq("a"))
    assert(t.encode("").toSeq == Seq.empty)
    assert(t.encode("zzz").toSeq == Seq("z", "z", "z"))
  }

  test("concatenation invariant: tokens always rebuild the word exactly") {
    val t = Bpe.Standard
    val prop = Prop.forAllNoShrink(Gen.listOf(Gen.alphaLowerChar).map(_.mkString)) {
      w => t.encode(w).mkString == w
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("self-merge rules are rejected; passes are conflict-free") {
    assertThrows[IllegalArgumentException](new BpeTable(Seq(("a", "a"))))
    // [a,b,a,b] with (a,b): both occurrences merge in ONE pass
    val t = new BpeTable(Seq(("a", "b")))
    assert(t.encode("abab").toSeq == Seq("ab", "ab"))
    assert(t.encode("aab").toSeq == Seq("a", "ab"))
    // the empty table is the identity tokenizer, and training on a
    // corpus with no repeatable pair yields it rather than throwing
    assert(new BpeTable(Nil).encode("abc").toSeq == Seq("a", "b", "c"))
    import spark.implicits._
    val empty = Bpe.train(Seq.empty[String].toDF("text"), col("text"), 10)
    assert(empty.merges.isEmpty)
  }

  test("columnar bpe_encode matches the in-memory encoder; count upgrades packing") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
      .limit(50)
    val viaExpr = docs
      .select(col("doc_id"), Bpe.tokens(col("text")).as("toks"))
      .as[(Long, Seq[String])].collect().toMap
    val texts = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    val re = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]".r
    texts.foreach { case (id, text) =>
      val expect = re.findAllIn(text).toSeq.flatMap(w => Bpe.Standard.encode(w))
      assert(viaExpr(id) == expect, s"doc $id")
    }
    // BPE-exact packing: same tiling property as the regex-count variant
    val packed = Packing.concatChunk(
      docs.select(col("doc_id"), col("source"), col("text")),
      "source", c = 256, tokens = Bpe.tokenCount(col("text")))
      .orderBy(col("stream"), col("doc_id"))
      .select(col("stream"), col("n_tok"), col("offset")).as[(String, Long, Long)]
      .collect()
    packed.groupBy(_._1).foreach { case (_, rows) =>
      rows.sliding(2).foreach {
        case Array((_, n, o), (_, _, o2)) => assert(o2 == o + n) // offsets tile
        case _ =>
      }
    }
  }

  test("null text tokenizes to the empty stream (count 0, not -1)") {
    import spark.implicits._
    val d = Seq((1L, Option("the cat")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val r = d.select(col("doc_id"), Bpe.tokenCount(col("text")).as("n"))
      .orderBy("doc_id").as[(Long, Int)].collect().toSeq
    assert(r(1)._2 == 0, s"NULL text must count 0 tokens, got ${r(1)._2}")
    assert(r(0)._2 == 3) // "the" | "c","at"
  }

  test("tokensWith plans a trained table through the same native expression") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val trained = Bpe.train(docs, col("text"), nMerges = 30)
    val viaExpr = docs.limit(30)
      .select(col("doc_id"), Bpe.tokensWith(trained, col("text")).as("toks"))
      .as[(Long, Seq[String])].collect().toMap
    val texts = docs.limit(30).select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    val re = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]".r
    texts.foreach { case (id, text) =>
      val expect = re.findAllIn(text).toSeq.flatMap(w => trained.encode(w))
      assert(viaExpr(id) == expect, s"doc $id")
    }
  }

  test("trained table round-trips through parquet save/load, rank order intact") {
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val trained = Bpe.train(docs, col("text"), nMerges = 20)
    val p = Spool.dir("graft-bpe") + "/merges"
    Bpe.save(spark, trained, p)
    val loaded = Bpe.load(spark, p)
    assert(loaded.merges == trained.merges) // order IS semantics
    assert(loaded.encode("the").toSeq == trained.encode("the").toSeq)
  }

  test("trainer learns the fixture's frequent pairs and round-trips") {
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val trained = Bpe.train(docs, col("text"), nMerges = 30)
    assert(trained.merges.size == 30)
    assert(trained.merges.forall { case (a, b) => a != b })
    // training again is deterministic
    val again = Bpe.train(docs, col("text"), nMerges = 30)
    assert(again.merges == trained.merges)
    // the learned table compresses the corpus vs raw chars
    val sample = docs.limit(20).select(col("text"))
      .collect().map(_.getString(0))
    val re = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]".r
    val words = sample.flatMap(t => re.findAllIn(t).toSeq)
    val nChars = words.map(_.length).sum
    val nToks = words.map(w => trained.encode(w).length).sum
    assert(nToks < nChars, s"trained table should merge something: $nToks vs $nChars")
    words.foreach(w => assert(trained.encode(w).mkString == w))
  }

  test("trainer learns the EXACT expected merge list on a hand-computed fixture") {
    // The q_bpe_trained oracle replays whatever table was learned, so it
    // cannot catch a trainer that picks wrong pairs — this fixture pins
    // the learning itself. Corpus: hug x3, pug x2, bun x1.
    //   round 1: (u,g)=5 beats (h,u)=3, (p,u)=2, (b,u)=1, (u,n)=1
    //   round 2: (h,ug)=3; round 3: (p,ug)=2
    //   round 4: tie at 1 — (b,u) < (u,n) lexicographically
    //   round 5: (bu,n)=1; round 6: nothing left -> exhausted early
    import spark.implicits._
    val docs = Seq("hug hug hug pug pug bun").toDF("text")
    val trained = Bpe.train(docs, col("text"), nMerges = 6)
    assert(trained.merges == Seq(
      ("u", "g"), ("h", "ug"), ("p", "ug"), ("b", "u"), ("bu", "n")))
    assert(trained.encode("hug").toSeq == Seq("hug"))
    assert(trained.encode("bun").toSeq == Seq("bun"))
  }
}
