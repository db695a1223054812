package graft.land

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.Spool

/** The linked-table root: one pointer naming a consistent version per
  * member table — the shared primitive the persisted BM25 / IVF / IVF-PQ
  * indexes publish through. */
class LinkedRootSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshRoot(): String =
    Spool.dir("graft-root") + "/ix"

  test("publish pins every member; readers resolve the pinned versions") {
    import spark.implicits._
    val root = freshRoot()
    assert(AtomicLanding.linkedSnapshot(root).isEmpty)
    val av = AtomicLanding.commit(Seq((1L, "x")).toDF("id", "s"), s"$root/a")
    val bv = AtomicLanding.commit(Seq((9L, 0.5)).toDF("id", "w"), s"$root/b")
    val r0 = AtomicLanding.publishLinked(root, Map("a" -> av, "b" -> bv))
    assert(r0 == 0L)
    val snap = AtomicLanding.linkedSnapshot(root).get
    assert(snap.rootVersion == 0L && snap.members == Map("a" -> av, "b" -> bv))
    assert(AtomicLanding.readLinkedMember(spark, root, "a").count() == 1)
    intercept[IllegalArgumentException](
      AtomicLanding.readLinkedMember(spark, root, "nope"))
  }

  test("a reader during a cross-table append sees all-old or all-new, never a mix") {
    import spark.implicits._
    val root = freshRoot()
    val av = AtomicLanding.commit(Seq((1L, 10L)).toDF("id", "v"), s"$root/data")
    val bv = AtomicLanding.commit(Seq((1L, 1L)).toDF("id", "n"), s"$root/stats")
    AtomicLanding.publishLinked(root, Map("data" -> av, "stats" -> bv))

    // the appender commits BOTH members first — a reader resolving the
    // root in that window (crash window included) still reads the OLD
    // consistent pair from both tables
    val av2 = AtomicLanding.commit(Seq((2L, 20L)).toDF("id", "v"),
      s"$root/data", append = true)
    val bv2 = AtomicLanding.commit(Seq((1L, 2L)).toDF("id", "n"), s"$root/stats")
    val mid = AtomicLanding.linkedSnapshot(root).get
    assert(mid.members == Map("data" -> av, "stats" -> bv))
    assert(AtomicLanding.readLinkedMember(spark, root, "data").count() == 1)
    assert(AtomicLanding.readLinkedMember(spark, root, "stats")
      .head().getLong(1) == 1L)

    // ...and a torn publish (crash before the swing) changes nothing
    intercept[RuntimeException] {
      AtomicLanding.publishLinked(root, Map("data" -> av2, "stats" -> bv2),
        expectedRoot = Some(0L),
        beforePublish = () => throw new RuntimeException("kill -9"))
    }
    assert(AtomicLanding.linkedSnapshot(root).get.members ==
      Map("data" -> av, "stats" -> bv))

    // the retry lands the whole pair atomically
    assert(AtomicLanding.publishLinked(root,
      Map("data" -> av2, "stats" -> bv2), expectedRoot = Some(0L)) == 1L)
    assert(AtomicLanding.readLinkedMember(spark, root, "data").count() == 2)
    assert(AtomicLanding.readLinkedMember(spark, root, "stats")
      .head().getLong(1) == 2L)
  }

  test("expectedRoot is a CAS: a publisher working from a stale generation fails") {
    import spark.implicits._
    val root = freshRoot()
    val v = AtomicLanding.commit(Seq(1L).toDF("id"), s"$root/m")
    AtomicLanding.publishLinked(root, Map("m" -> v))
    AtomicLanding.publishLinked(root, Map("m" -> v), expectedRoot = Some(0L))
    // a second folder that ALSO computed its delta from generation 0
    // must fail — publishing would silently drop the winner's update
    intercept[java.util.ConcurrentModificationException] {
      AtomicLanding.publishLinked(root, Map("m" -> v), expectedRoot = Some(0L))
    }
    assert(AtomicLanding.linkedSnapshot(root).get.rootVersion == 1L)
  }

  test("two concurrent CAS publishers: exactly one wins, the loser must recompute") {
    import spark.implicits._
    val root = freshRoot()
    val v = AtomicLanding.commit(Seq(1L).toDF("id"), s"$root/m")
    AtomicLanding.publishLinked(root, Map("m" -> v))
    val gate = new java.util.concurrent.CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ts = (1 to 2).map { i =>
      new Thread(() => {
        gate.await()
        try {
          AtomicLanding.publishLinked(root, Map("m" -> v),
            expectedRoot = Some(0L))
          outcomes.add("won")
        } catch {
          case _: java.util.ConcurrentModificationException =>
            outcomes.add("cme")
        }
      })
    }
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join(30000))
    assert(outcomes.size == 2)
    assert(outcomes.toArray.count(_ == "won") == 1,
      s"exactly one CAS may win: $outcomes")
    assert(AtomicLanding.linkedSnapshot(root).get.rootVersion == 1L)
  }

  test("vacuumLinked reclaims superseded roots; member vacuum is quiescence-guarded") {
    import spark.implicits._
    val root = freshRoot()
    val a0 = AtomicLanding.commit(Seq(1L).toDF("id"), s"$root/a")
    val b0 = AtomicLanding.commit(Seq(1L).toDF("id"), s"$root/b")
    AtomicLanding.publishLinked(root, Map("a" -> a0, "b" -> b0))
    // supersede everything once
    val a1 = AtomicLanding.commit(Seq(1L, 2L).toDF("id"), s"$root/a")
    AtomicLanding.publishLinked(root, Map("a" -> a1, "b" -> b0))
    // member b runs AHEAD of the pin (a crashed publish): vacuum must
    // NOT touch b — reclaiming would delete the very manifest the live
    // root pins
    val b1 = AtomicLanding.commit(Seq(1L, 2L, 3L).toDF("id"), s"$root/b")
    assert(b1 > b0)
    val removed = AtomicLanding.vacuumLinked(root)
    assert(removed.exists(_.contains("r-0000000000")), s"old root: $removed")
    assert(removed.exists(p => p.contains("/a/")), s"member a: $removed")
    assert(!removed.exists(p => p.contains("/b/")),
      s"member b ran ahead of the pin and must survive: $removed")
    // the pinned read still works after the vacuum
    assert(AtomicLanding.readLinkedMember(spark, root, "a").count() == 2)
    assert(AtomicLanding.readLinkedMember(spark, root, "b").count() == 1)
    // once the root catches up to b, its superseded generation reclaims
    AtomicLanding.publishLinked(root, Map("a" -> a1, "b" -> b1))
    assert(AtomicLanding.vacuumLinked(root).exists(_.contains("/b/")))
    assert(AtomicLanding.readLinkedMember(spark, root, "b").count() == 3)
  }

  test("vacuumLinked retainRoots: index time travel survives maintenance; older generations reclaim") {
    import spark.implicits._
    val root = freshRoot()
    // four root generations, each superseding member a (b stays)
    val b0 = AtomicLanding.commit(Seq(0L).toDF("id"), s"$root/b")
    val pins = (0 to 3).map { g =>
      val av = AtomicLanding.commit((0L to g.toLong).toDF("id"), s"$root/a")
      AtomicLanding.publishLinked(root, Map("a" -> av, "b" -> b0),
        expectedRoot = if (g == 0) None else Some(g - 1L))
      av
    }
    // capture generation 2's full member state before maintenance
    val snap2 = AtomicLanding.linkedSnapshotAt(root, 2L).get
    val rows2 = AtomicLanding
      .readVersion(spark, s"$root/a", snap2.members("a"))
      .orderBy("id").collect().toSeq

    val removed = AtomicLanding.vacuumLinked(root, retainRoots = 1)
    // generation 2 (inside the window) still resolves AND reads
    // bit-identically at its pinned member versions
    assert(AtomicLanding.linkedSnapshotAt(root, 2L).contains(snap2))
    assert(AtomicLanding
      .readVersion(spark, s"$root/a", snap2.members("a"))
      .orderBy("id").collect().toSeq == rows2,
      "a retained generation must read bit-identically after vacuum")
    // generations 0 and 1 (outside the window) reclaimed: roots gone,
    // and their superseded member manifests gone with them
    assert(removed.exists(_.contains("r-0000000000")))
    assert(removed.exists(_.contains("r-0000000001")))
    assert(AtomicLanding.linkedSnapshotAt(root, 0L).isEmpty)
    assert(AtomicLanding.linkedSnapshotAt(root, 1L).isEmpty)
    intercept[IllegalArgumentException] {
      AtomicLanding.readVersion(spark, s"$root/a", pins(0))
    }
    // the live generation is untouched
    assert(AtomicLanding.readLinkedMember(spark, root, "a").count() == 4)
    // a later full (no-retention) vacuum collapses to the live root;
    // the quiescence guard still applies
    assert(AtomicLanding.vacuumLinked(root).exists(_.contains("r-0000000002")))
    assert(AtomicLanding.linkedSnapshotAt(root, 2L).isEmpty)
    assert(AtomicLanding.readLinkedMember(spark, root, "a").count() == 4)
  }
}
