package graft.land

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import AtomicLanding.LinkedSnapshot

/** The one lifecycle of a persisted index: a set of [[AtomicLanding]]
  * member tables under `path/<member>`, published together through one
  * [[AtomicLanding.publishLinked]] root.
  *
  *  - FROZEN members (quantizers, codebooks, stats) are written only by
  *    a rebuild. The version of the FIRST one is the index's frozen
  *    GENERATION.
  *  - GROWING members (lists, codes, norms) take appends and tail folds
  *    as well. They are declared entry-first: readers reach a row of a
  *    later member only through the first one (IvfPq joins `n2` for
  *    candidates found in `codes`). Appends therefore commit the members
  *    last-to-first, so a half-landed append can only ever publish rows
  *    no reader reaches yet.
  *
  * Every growing commit (build, append, fold, rewrite) stamps the
  * [[GenMark]] writer channel with the generation its rows were coded
  * under, atomically with its data. A crashed writer leaves growing
  * members AHEAD of the root pin; [[settled]] heals them by one rule:
  *
  *  - every ahead member carries the PINNED generation: an append or a
  *    fold (a fold replaces tail dirs, so dir lineage cannot tell it
  *    from a rewrite). Publish the pinned frozen members with the live
  *    growing ones — also when a crashed rebuild left orphaned frozen
  *    members above the pin;
  *  - the frozen generation moved and EVERY growing member carries the
  *    live one: a complete rewrite. Publish everything live;
  *  - anything else is an incomplete rewrite: refuse, naming the path.
  *    A rebuild at that path replaces it.
  *
  * Chains written before the mark existed fall back to dir lineage:
  * live dirs ⊇ pinned dirs is an append, disjoint on every growing
  * member is a complete rewrite. Their first append or fold stamps the
  * mark, so the fallback only decides crash states made entirely
  * without it.
  *
  * An index declares its `frozen` member names, its `growing` members
  * with the key columns their appends dedupe on, and `rowsOf`, which
  * turns a batch into each growing member's rows (in declaration
  * order) under the pinned frozen members of `(path, snapshot)`.
  * `rowsOf` runs after the heal and before any commit, so it may
  * refuse a layout it cannot extend. `noIndex` names the index in the
  * snapshot-or-throw message ("no saved IVF index" → "no saved IVF
  * index at <path>"). */
final class LinkedIndex(noIndex: String, frozen: Seq[String],
    growing: Seq[(String, Seq[String])])(
    rowsOf: (String, LinkedSnapshot, DataFrame) => Seq[DataFrame]) {
  import LinkedIndex.GenMark

  private val growingNames = growing.map(_._1)

  /** The live root generation, or the index's "no saved … at" error. */
  def snapshot(path: String): LinkedSnapshot =
    AtomicLanding.linkedSnapshot(path).getOrElse(
      throw new IllegalStateException(s"$noIndex at $path"))

  /** One member read at the version `snap` pins. */
  def member(spark: SparkSession, path: String, snap: LinkedSnapshot,
      m: String): DataFrame =
    AtomicLanding.readVersion(spark, s"$path/$m", snap.members(m))

  private def live(path: String, m: String): Long =
    AtomicLanding.currentVersion(s"$path/$m").get

  /** The root the heal rule publishes for `snap` (its own pins when no
    * growing member ran ahead), or why it refuses. */
  private def healTarget(path: String, snap: LinkedSnapshot)
      : Either[String, Map[String, Long]] = {
    val liveGrowing = growingNames.map(m => m -> live(path, m)).toMap
    val ahead = growingNames.filter(m => liveGrowing(m) != snap.members(m))
    if (ahead.isEmpty) return Right(snap.members)
    def gen(m: String) = AtomicLanding.lastBatchId(s"$path/$m", GenMark)
    def lineal(m: String) = AtomicLanding.dirsOfVersion(s"$path/$m",
      snap.members(m)).toSet.subsetOf(
      AtomicLanding.dirsOfVersion(s"$path/$m", liveGrowing(m)).toSet)
    val pinGen = snap.members(frozen.head)
    val liveGen = live(path, frozen.head)
    val marked = growingNames.forall(gen(_).isDefined)
    if (ahead.forall(m => if (marked) gen(m).contains(pinGen) else lineal(m)))
      Right(snap.members ++ liveGrowing)
    else if (growingNames.forall(m =>
        if (marked) liveGen != pinGen && gen(m).contains(liveGen)
        else ahead.contains(m) && !lineal(m)))
      Right(liveGrowing ++ frozen.map(m => m -> live(path, m)))
    else Left(s"$path: growing member(s) ${ahead.mkString(", ")} ran ahead " +
      "of the root pin as an incomplete rewrite (a rebuild crashed between " +
      "its member commits) — rebuild the index at this path to replace it")
  }

  /** CAS the root from `snap` to `members`; false when another writer
    * advanced the root first (the caller re-resolves and retries). */
  private def cas(path: String, snap: LinkedSnapshot,
      members: Map[String, Long], beforeRootPublish: () => Unit): Boolean =
    members == snap.members || (try {
      AtomicLanding.publishLinked(path, members,
        expectedRoot = Some(snap.rootVersion),
        beforePublish = beforeRootPublish)
      true
    } catch { case _: java.util.ConcurrentModificationException => false })

  /** The live root once no growing member runs ahead of it: every
    * committed-but-unpublished generation is healed forward first, so
    * a writer never lands on top of a state it was not coded under. */
  def settled(path: String,
      beforeRootPublish: () => Unit = () => ()): LinkedSnapshot = {
    var snap = snapshot(path)
    var target = healTarget(path, snap)
    while (target != Right(snap.members)) {
      cas(path, snap, target.fold(why => throw new IllegalStateException(why),
        identity), beforeRootPublish)
      snap = snapshot(path)
      target = healTarget(path, snap)
    }
    snap
  }

  /** Append one batch under the pinned frozen members: heal, run the
    * [[LinkedIndex.appendOnce]] ladder on each growing member, then one
    * root CAS publishes what landed. A batch id every member already
    * holds is a pure heal. `beforePublish` is the first growing
    * member's commit seam; `beforeRootPublish` the root swing's. */
  def append(path: String, batch: DataFrame, batchId: Option[Long],
      writer: String, scans: AtomicLong,
      beforePublish: () => Unit, beforeRootPublish: () => Unit): Unit = {
    val committed = batchId.exists(b => growingNames.forall(m =>
      AtomicLanding.lastBatchId(s"$path/$m", writer).exists(_ >= b)))
    var done = false
    while (!done) {
      val snap = settled(path, beforeRootPublish)
      done = committed || {
        val mark = Map(GenMark -> snap.members(frozen.head))
        val landed = growing.zip(rowsOf(path, snap, batch)).reverse.map {
          case ((m, keys), df) => m -> LinkedIndex.appendOnce(s"$path/$m",
            df, keys, batchId, writer, scans,
            if (m == growingNames.head) beforePublish else () => (), mark)
            .getOrElse(live(path, m))
        }
        cas(path, snap, snap.members ++ landed, beforeRootPublish)
      }
    }
  }

  /** Before a build at `path`: heal a complete predecessor forward, so
    * retrying a crashed build never stacks a second orphaned generation
    * on the first's unpublished members (a stacked state is one the heal
    * rule must refuse). A refused (incomplete) predecessor is left for
    * the build to replace. */
  def healPredecessor(path: String): Unit =
    if (AtomicLanding.linkedSnapshot(path).isDefined)
      try { settled(path); () } catch { case _: IllegalStateException => () }

  /** Commit a whole new generation — frozen members, then growing ones
    * stamped with the new generation — and swing the root once.
    *
    * A BUILD (`base = None`) replaces whatever the path holds: its root
    * swing expects the root it finds at publish time, and `batchId`
    * seeds the growing members' watermark.
    *
    * A REWRITE (`base = Some(snap)`, a settled snapshot) CASes every
    * growing member on its pinned version and the root on `snap`: an
    * append landing meanwhile fails the rewrite with
    * ConcurrentModificationException and the caller retries over it.
    * `beforeMember(m)` fires before each member commit. */
  def rebuild(path: String, frozenRows: Seq[DataFrame],
      growingRows: Seq[DataFrame], batchId: Option[Long] = None,
      base: Option[LinkedSnapshot] = None,
      beforeMember: String => Unit = _ => (),
      beforePublish: () => Unit = () => ()): Unit = {
    val fv = frozen.zip(frozenRows).map { case (m, df) =>
      beforeMember(m)
      m -> AtomicLanding.commit(df.coalesce(1), s"$path/$m")
    }
    val gv = growingNames.zip(growingRows).map { case (m, df) =>
      beforeMember(m)
      m -> AtomicLanding.commit(df, s"$path/$m", batchId = batchId,
        expectedVersion = base.map(_.members(m)),
        extraMarks = Map(GenMark -> fv.head._2))
    }
    AtomicLanding.publishLinked(path, (fv ++ gv).toMap,
      expectedRoot = base.map(_.rootVersion)
        .orElse(AtomicLanding.currentRootVersion(path)),
      beforePublish = beforePublish)
    ()
  }

  /** Session maintenance: heal, fold each growing member's small-dir
    * tail (body dirs above `smallBytes` never rewrite; concurrent
    * appends ride the fold's rebase), CAS the root to the folded
    * generation with the frozen members unchanged, then
    * [[AtomicLanding.vacuumLinked]] — quiescence-guarded, so a member a
    * concurrent writer pushed ahead of the pin is never touched. One
    * maintainer at a time; probes and appends may run alongside.
    * Returns the reclaimed paths. */
  def maintain(spark: SparkSession, path: String, smallBytes: Long,
      reservationGraceMs: Long, retainRootGenerations: Int): Seq[String] = {
    var done = false
    while (!done) {
      val snap = settled(path)
      val mark = Map(GenMark -> snap.members(frozen.head))
      done = cas(path, snap, snap.members ++ growingNames.map(m => m -> (
        try AtomicLanding.compactSmall(spark, s"$path/$m", smallBytes,
          extraMarks = mark)
        catch {
          // a concurrent rewrite landed mid-fold: skip this member this
          // run (the next maintenance retries) but still publish
          // whatever is durably committed
          case _: java.util.ConcurrentModificationException => live(path, m)
        })), () => ())
    }
    AtomicLanding.vacuumLinked(path, futureGraceMs = reservationGraceMs,
      retainRoots = retainRootGenerations)
  }
}

object LinkedIndex {

  /** The writer channel holding the frozen generation a growing
    * member's rows were coded under. */
  val GenMark = "__gen__"

  /** The exactly-once append ladder for one table, keyed by `keys`:
    *
    *  - a `batchId` the `writer` channel already holds: commit nothing
    *    and read nothing (data and id became durable in one swing);
    *  - a new id on a table with a watermark: ids are monotone per
    *    channel, so nothing of the batch is in the table — commit
    *    `rows` without the O(table) scan;
    *  - no id, or no watermark yet (rows no id can vouch for): anti-join
    *    `rows` against the LIVE table, which may run ahead of a root pin
    *    when a predecessor crashed before its root swing. Counted in
    *    `scans`.
    *
    * An identified batch whose delta is empty still commits (an
    * O(metadata) empty append), so its id becomes durable and later
    * identified batches regain the scan-free path. Returns the version
    * committed, or None when nothing was. */
  def appendOnce(table: String, rows: => DataFrame, keys: Seq[String],
      batchId: Option[Long], writer: String, scans: AtomicLong,
      beforePublish: () => Unit = () => (),
      extraMarks: Map[String, Long] = Map.empty): Option[Long] = {
    if (batchId.exists(b =>
        AtomicLanding.lastBatchId(table, writer).exists(_ >= b))) return None
    val batch = rows
    def land(df: DataFrame) = Some(AtomicLanding.commit(df, table,
      append = true, beforePublish = beforePublish, batchId = batchId,
      writer = writer, extraMarks = extraMarks))
    if (batchId.isDefined && AtomicLanding.lastBatchId(table, writer).isDefined)
      return land(batch)
    scans.incrementAndGet()
    val fresh = batch.join(AtomicLanding.read(batch.sparkSession, table)
        .select(keys.map(col): _*), keys, "left_anti")
      .select(batch.columns.map(col): _*).persist()
    try if (batchId.isEmpty && fresh.isEmpty) None else land(fresh)
    finally fresh.unpersist()
  }
}
