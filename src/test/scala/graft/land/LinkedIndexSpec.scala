package graft.land

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.queries.Spool

/** The shared persisted-index lifecycle over a tiny index: one frozen
  * member `q` and two growing members `a` (entry) and `b`, each keyed by
  * `id`. */
class LinkedIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val li = new LinkedIndex("no tiny index", Seq("q"),
    Seq("a" -> Seq("id"), "b" -> Seq("id")))((_, _, batch) => Seq(batch, batch))

  private def ids(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id"), (col("id") * 2).as("v"))
  private def quantizer(g: Int): DataFrame = Seq(g).toDF("g")

  private def freshPath(): String =
    Spool.dir("graft-linked") + "/ix"

  /** A built index grown by two appends (so a tail fold has work). */
  private def grown(): String = {
    val p = freshPath()
    li.rebuild(p, Seq(quantizer(0)), Seq(ids(0, 10), ids(0, 10)),
      batchId = Some(0L))
    li.append(p, ids(10, 20), Some(1L), "", new AtomicLong, () => (), () => ())
    li.append(p, ids(20, 30), Some(2L), "", new AtomicLong, () => (), () => ())
    p
  }

  private final class Crash extends RuntimeException("crash")
  private def crash(f: => Unit): Unit = intercept[Crash](f)
  private def live(p: String, m: String) = AtomicLanding.currentVersion(s"$p/$m").get

  /** Commit a growing member as a pre-mark binary would: no gen mark. */
  private def markless(p: String): String = {
    Seq("q" -> quantizer(0), "a" -> ids(0, 10), "b" -> ids(0, 10)).foreach {
      case (m, df) => AtomicLanding.commit(df, s"$p/$m")
    }
    AtomicLanding.publishLinked(p, Seq("q", "a", "b").map(m => m -> live(p, m)).toMap)
    p
  }

  test("heal rule: append family and folds re-pin the pinned generation, complete rewrites publish live, incomplete ones refuse") {
    sealed trait Want
    case object PinnedFrozen extends Want
    case object LiveFrozen extends Want
    case object Refused extends Want
    val cases: Seq[(String, () => String, Want)] = Seq(
      ("append family", () => {
        val p = grown()
        crash(li.append(p, ids(30, 40), Some(3L), "", new AtomicLong, () => (),
          () => throw new Crash))
        p
      }, PinnedFrozen),
      ("crashed fold", () => {
        val p = grown()
        AtomicLanding.compactSmall(spark, s"$p/a", Long.MaxValue)
        p
      }, PinnedFrozen),
      ("crashed fold above orphaned frozen members", () => {
        val p = grown()
        crash(li.rebuild(p, Seq(quantizer(1)), Seq(ids(0, 30), ids(0, 30)),
          beforeMember = m => if (m == "a") throw new Crash))
        AtomicLanding.compactSmall(spark, s"$p/a", Long.MaxValue)
        p
      }, PinnedFrozen),
      ("complete rewrite", () => {
        val p = grown()
        crash(li.rebuild(p, Seq(quantizer(1)), Seq(ids(0, 30), ids(0, 30)),
          beforePublish = () => throw new Crash))
        p
      }, LiveFrozen),
      ("incomplete rewrite", () => {
        val p = grown()
        crash(li.rebuild(p, Seq(quantizer(1)), Seq(ids(0, 30), ids(0, 30)),
          beforeMember = m => if (m == "b") throw new Crash))
        p
      }, Refused),
      ("markless superset chain", () => {
        val p = markless(freshPath())
        AtomicLanding.commit(ids(10, 20), s"$p/a", append = true)
        p
      }, PinnedFrozen),
      ("markless disjoint chain", () => {
        val p = markless(freshPath())
        Seq("q" -> quantizer(1), "a" -> ids(0, 20), "b" -> ids(0, 20)).foreach {
          case (m, df) => AtomicLanding.commit(df, s"$p/$m")
        }
        p
      }, LiveFrozen))
    cases.foreach { case (name, setup, want) =>
      val p = setup()
      val pinned = AtomicLanding.linkedSnapshot(p).get
      val growing = Seq("a", "b").map(m => m -> live(p, m)).toMap
      assert(growing.exists { case (m, v) => v != pinned.members(m) },
        s"$name: the setup must leave a growing member ahead of the pin")
      want match {
        case Refused =>
          val e = intercept[IllegalStateException](li.settled(p))
          assert(e.getMessage.contains(p), s"$name: ${e.getMessage}")
          assert(AtomicLanding.linkedSnapshot(p).get == pinned,
            s"$name: a refusal publishes nothing")
        case _ =>
          val healed = li.settled(p)
          val q = if (want == PinnedFrozen) pinned.members("q") else live(p, "q")
          assert(healed.members == growing + ("q" -> q), name)
      }
    }
  }

  test("append ladder: committed ids read nothing, new ids scan nothing, id-less batches scan once, empty identified batches record their id") {
    val t = freshPath()
    AtomicLanding.commit(ids(0, 10), t, batchId = Some(5L))
    val scans = new AtomicLong
    var evaluated = false
    def rows(df: DataFrame): DataFrame = { evaluated = true; df }

    assert(LinkedIndex.appendOnce(t, rows(ids(0, 10)), Seq("id"), Some(5L), "",
      scans).isEmpty)
    assert(!evaluated && scans.get == 0, "a committed id must read nothing")

    val v6 = LinkedIndex.appendOnce(t, ids(10, 20), Seq("id"), Some(6L), "", scans)
    assert(v6 == AtomicLanding.currentVersion(t) && scans.get == 0,
      "a new id on a watermarked table commits without a scan")

    assert(LinkedIndex.appendOnce(t, ids(15, 25), Seq("id"), None, "", scans).nonEmpty)
    assert(scans.get == 1, "an id-less append pays exactly one scan")
    assert(AtomicLanding.read(spark, t).count() == 25, "the scan dedupes by key")

    // a table without a watermark: the identified batch pays the scan,
    // finds nothing new, and still commits to make its id durable
    val u = freshPath()
    AtomicLanding.commit(ids(0, 10), u)
    val before = AtomicLanding.currentVersion(u).get
    assert(LinkedIndex.appendOnce(u, ids(0, 10), Seq("id"), Some(7L), "", scans)
      .contains(before + 1))
    assert(scans.get == 2 && AtomicLanding.lastBatchId(u).contains(7L) &&
      AtomicLanding.read(spark, u).count() == 10)
  }
}
