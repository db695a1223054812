package graft.land

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Change data feed over [[AtomicLanding]] snapshots: what changed
  * between two committed versions, as rows tagged insert / delete /
  * update_pre / update_post — the capability behind Delta's CDF and the
  * contract that makes 100-TB incremental pipelines possible: a
  * downstream consumer reads the DELTA of a table, not the table.
  *
  * Two serving paths, chosen from the MANIFESTS (a bounded metadata
  * read), never from the data:
  *
  *  - **Append fast path**: when the newer version only ADDED data dirs,
  *    the change set is exactly the rows of the added dirs, read
  *    directly — no old-snapshot scan, no join, cost proportional to
  *    the delta. This is the common case for streaming ingest (every
  *    micro-batch commit appends one dir) and the path an incremental
  *    consumer takes after each poll.
  *  - **Keyed snapshot diff**: when dirs were REMOVED (merge, compaction,
  *    overwrite rewrite data), dir identity no longer tracks row
  *    identity, so the diff joins the two snapshots full-outer on the
  *    caller's key and compares whole-row images: old-only keys emit
  *    `delete` (pre image), new-only keys emit `insert` (post image),
  *    keys whose images differ emit `update_pre` + `update_post`.
  *    Identical images emit NOTHING — a pure-layout rewrite (compaction)
  *    produces an EMPTY feed, which is precisely the semantics a
  *    consumer wants: compaction is not change. One shuffle per side on
  *    the key; the struct comparison is codegen'd, no UDF.
  *
  * The keyed diff requires `key` to be unique per snapshot (the same
  * contract as [[AtomicLanding.merge]]); under that contract the two
  * paths agree — an append's keys are all new, so the diff would tag
  * every appended row `insert`, which is what the fast path returns
  * without scanning the old snapshot. `ChangeFeedSpec` pins the
  * equivalence on real data and `q_acid_cdf` value-gates both paths.
  */
object ChangeFeed {

  /** (added, removed) data dirs between two committed versions — the
    * bounded manifest-level delta that picks the serving path. */
  def dirDelta(table: String, vOld: Long, vNew: Long): (Seq[String], Seq[String]) =
    delta(AtomicLanding.dirsOfVersion(table, vOld), AtomicLanding.dirsOfVersion(table, vNew))

  private def delta(oldDirs: Seq[String], newDirs: Seq[String]): (Seq[String], Seq[String]) = {
    val (o, n) = (oldDirs.toSet, newDirs.toSet)
    ((n -- o).toSeq.sorted, (o -- n).toSeq.sorted)
  }

  /** The change rows from `vOld` to `vNew`: the source columns plus a
    * leading `change_type` tag. `key` must identify a row within each
    * snapshot. */
  def changes(spark: SparkSession, table: String, vOld: Long, vNew: Long,
      key: String): DataFrame = {
    require(vNew >= vOld, s"changes wants vOld <= vNew, got $vOld > $vNew")
    val mNew = AtomicLanding.manifestOf(table, vNew)
    val (added, removed) = delta(AtomicLanding.dirsOfVersion(table, vOld), mNew.dirs)
    if (removed.isEmpty) {
      // append fast path: delta = the added dirs, read directly at the
      // schema vNew records (no inference job; evolved columns kept
      // whichever added dir sorts first)
      val adds =
        if (added.isEmpty) AtomicLanding.relation(spark, table, mNew, mNew.dirs).limit(0)
        else AtomicLanding.relation(spark, table, mNew, added)
      val dataCols = adds.columns.filter(_ != key).toSeq
      adds.select(lit("insert").as("change_type") +: col(key) +:
        dataCols.map(col): _*)
    } else {
      val pre = AtomicLanding.readVersion(spark, table, vOld)
      val post = AtomicLanding.relation(spark, table, mNew, mNew.dirs)
      val dataCols = pre.columns.filter(_ != key).toSeq
      require(post.columns.filter(_ != key).toSeq == dataCols,
        "keyed snapshot diff requires both versions to share a schema " +
          s"(got ${pre.columns.mkString(",")} vs ${post.columns.mkString(",")})")
      def img(df: DataFrame, as: String) = df.select(col(key),
        struct(dataCols.map(col): _*).as(as))
      val j = img(pre, "pre").join(img(post, "post"), Seq(key), "full_outer")
      val inserts = j.filter(col("pre").isNull)
        .select(lit("insert").as("change_type"), col(key), col("post.*"))
      val deletes = j.filter(col("post").isNull)
        .select(lit("delete").as("change_type"), col(key), col("pre.*"))
      // null-SAFE image comparison: a plain =!= on structs goes NULL when
      // any field is null, and the filter would silently drop value<->null
      // updates — <=> compares nulls deterministically
      val upd = j.filter(col("pre").isNotNull && col("post").isNotNull &&
        !(col("pre") <=> col("post")))
      val updPre = upd.select(lit("update_pre").as("change_type"),
        col(key), col("pre.*"))
      val updPost = upd.select(lit("update_post").as("change_type"),
        col(key), col("post.*"))
      inserts.unionByName(deletes).unionByName(updPre).unionByName(updPost)
    }
  }
}
