package graft.app

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions
import graft.land.AtomicLanding
import graft.model.CatalogEntry

/** Multi-table transactional ingest — landing + catalog run-record in
  * ONE atomic publish.
  *
  * The reference pipeline commits these separately: the landing write
  * completes, THEN a catalog insert records the run
  * (`/root/reference/ingestion/dataIngestion.py:26-34`), so a crash
  * between the two leaves landed data no run record ever describes (and
  * its blanket exception swallowing, `dataIngestion.py:36-37`, hides
  * exactly that state). [[graft.app.IngestionJob]] keeps the same
  * two-commit ordering against a JDBC catalog, where nothing stronger is
  * possible — an external RDBMS cannot join a filesystem commit
  * protocol.
  *
  * When the catalog lives as an [[AtomicLanding]] table instead, the
  * linked-root machinery CAN close the window: `landing` and `catalog`
  * commit as member tables under one root (each commit returns a pinned
  * version; until the root swings those versions are unreachable staging
  * for any root-resolving reader), then ONE root-manifest publish pins
  * the pair. A reader resolving [[snapshot]] sees the batch WITH its run
  * record or neither — the torn state is unrepresentable, and a crash
  * anywhere before the root swing leaves the previous generation live.
  *
  * Exactly-once under replay: `batchId` rides each member commit's
  * manifest (durable in the same swing as the data), so a retried ingest
  * skips members whose watermark already covers the id, re-publishes the
  * root only if its pins do not already cover this attempt's versions,
  * and converges — crash at ANY point, retry with the same id, end in
  * the committed state with no duplicates.
  *
  * WRITER CARDINALITY: one ingest writer per root (the linked-root
  * design point). The root publish carries an `expectedRoot` CAS, so a
  * concurrent publisher fails loudly with
  * ConcurrentModificationException instead of pinning a torn pair
  * (landing containing a peer's data whose catalog row is still in
  * flight). Shard roots per asset — the reference's catalog is keyed by
  * (source, asset) anyway — rather than fanning writers into one root.
  */
object TransactionalIngest {

  val LandingMember = "landing"
  val CatalogMember = "catalog"

  /** The run record's schema, derived once from the case class (the
    * product encoder reflects over it on every derivation). */
  private val entrySchema = Encoders.product[CatalogEntry].schema

  /** The run record as a one-row local relation. Built from a `Row`, not
    * through the encoder: `createDataset` generates an `UnsafeProjection`
    * on every call, the `Row` path converts without code generation, and
    * the schema, nullability included, is the encoder's. */
  private def entryDf(spark: SparkSession, e: CatalogEntry): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(e.execId, e.srcSysId, e.assetId,
      e.dqValidation, e.dataPublish, e.dataMasking, e.srcFilePath, e.s3LogPath,
      e.procStartTs, e.createdTs, e.lastExtTime.orNull)), entrySchema)

  /** Spark's load() glob-expands its paths, so an inbound object named
    * with glob metacharacters ("data[1].csv") would either match a
    * DIFFERENT file (its bytes landing mislabeled while the real object
    * archives unlanded) or nothing (wedging the batch on every retry).
    * Escape every Hadoop glob metacharacter so the listed name loads
    * LITERALLY — the name-fidelity contract end to end. */
  private def globEscape(path: String): String =
    path.replaceAll("""([\\\[\]{}*?])""", """\\$1""")

  /** The relay listing's object name from binaryFile's `path` column,
    * which carries the RAW `Path.toString` form (space and glob chars
    * literal, NOT URL-encoded — URI-parsing it would throw on a space
    * and silently mis-decode a literal "%20" in a name): the last
    * segment verbatim is exactly what `Path.getName` yields on the
    * driver's listing, so landed names match the archive listing
    * bit-for-bit. */
  private val rawPathName = org.apache.spark.sql.functions.udf(
    (p: String) => p.substring(p.lastIndexOf('/') + 1))

  /** The relay listing's DECODED object name from `input_file_name()`,
    * which (unlike binaryFile's `path` column) carries the URL-ENCODED
    * URI form ("my%20file.csv"): parse as a URI and take the decoded
    * last segment — `Path.getName`'s value on the driver's listing. */
  private val decodedName = org.apache.spark.sql.functions.udf(
    (p: String) => new org.apache.hadoop.fs.Path(new java.net.URI(p)).getName)

  /** Land `data` and record `entry`, atomically. Returns the published
    * root generation. Idempotent for a given `batchId`. `beforeRootSwing`
    * is the crash-injection seam between the member commits and the root
    * pointer swing — the widest window the protocol must survive. */
  def ingest(spark: SparkSession, root: String, data: DataFrame,
      entry: CatalogEntry, batchId: Option[Long] = None,
      beforeRootSwing: () => Unit = () => (),
      evolveLanding: Boolean = false): Long = {
    val landingT = s"$root/$LandingMember"
    val catalogT = s"$root/$CatalogMember"
    // one manifest read per member decides replay vs commit
    def commitOnce(df: DataFrame, t: String): Long = {
      val live = AtomicLanding.manifest(t)
      if (batchId.exists(b => live.flatMap(_.batch).exists(_ >= b)))
        live.get.version // replay: data + id durable
      else AtomicLanding.commit(df, t,
        append = live.isDefined,
        batchId = batchId,
        // the file/stream patterns own their landing schema and may add
        // columns across engine releases (batch_id/src_obj arrived after
        // roots already existed in the wild); opting their appends into
        // evolution keeps an upgraded engine from bricking a standing
        // root on its first post-upgrade batch (schema enforcement
        // would throw on EVERY retry — a ladder that never converges)
        evolveSchema = evolveLanding && t == landingT,
        extraMarks = if (t == catalogT) watermarkMark(live) else Map.empty)
    }
    // the run's watermark rides the catalog commit as a monotone mark,
    // durable in the same swing as the run record; a catalog written
    // before marks existed seeds it with the aggregate once
    def watermarkMark(live: Option[AtomicLanding.Manifest]): Map[String, Long] =
      entry.lastExtTime.map { t =>
        WatermarkMark -> (micros(t) +: live.toSeq.flatMap(m =>
          recordedWatermark(spark, catalogT, m))).max
      }.toMap
    // catalog first: the only state a crash between the member commits
    // can leave is a run record whose root never swung — invisible to
    // root-resolving readers, retried into the same versions. (Order is
    // for the replay bookkeeping only; neither member is reachable
    // through the root until the publish below.)
    val catV = commitOnce(entryDf(spark, entry), catalogT)
    val landV = commitOnce(data, landingT)
    AtomicLanding.linkedSnapshot(root) match {
      case Some(s) if s.members.get(LandingMember).exists(_ >= landV) &&
          s.members.get(CatalogMember).exists(_ >= catV) =>
        s.rootVersion // replayed AFTER a completed publish: no-op
      case s =>
        AtomicLanding.publishLinked(root,
          Map(LandingMember -> landV, CatalogMember -> catV),
          expectedRoot = s.map(_.rootVersion),
          beforePublish = beforeRootSwing)
    }
  }

  /** File-pattern transactional ingest — C1's file pattern under the
    * same one-swing contract as [[ingest]]. The non-transactional relay
    * ([[graft.files.FileRelay.copyAll]] then a catalog insert,
    * `IngestionJob` file branch) has the reference's crash window
    * (`dataIngestion.py:26-34`): objects copied to the raw zone, no run
    * record. An object-store byte copy cannot join a commit protocol, so
    * the transactional mode RE-REPRESENTS the batch: inbound objects
    * become `(obj_name, length, content, batch_id)` rows in the landing
    * member — byte-fidelity preserved (spec'd), schema fixed — committed
    * with the run record in ONE root publish.
    *
    * ONE listing drives the whole run: the relay listing captured at
    * entry is read EXACTLY (explicit paths — no read-time directory
    * glob, so a nested object a recursive discovery would find but the
    * archive would never move cannot re-land every batch), landed
    * exactly, and archived exactly ([[graft.files.FileRelay.moveExact]]).
    * An object arriving in inbound after the listing stays for the next
    * run — it is NEVER archived unlanded (the silent-loss window a
    * fresh listing at archive time would open).
    *
    * Replay ladder (crash anywhere, retry with the same `batchId`):
    * before the swing, nothing is visible and inbound is intact — the
    * retry re-lists and re-lands (late arrivals simply join the batch;
    * the member commit is all-or-nothing, so no object can have landed
    * twice); after the swing but before the archive, the watermark
    * covers the id, the member commits short-circuit, and the retry
    * archives ONLY the objects this batch durably landed — their names
    * ride the landing rows (`batch_id` column), so a late arrival
    * sitting next to the batch's leftovers stays in inbound for its own
    * batch; after the archive, the filtered listing is empty and
    * everything short-circuits. Returns the published root generation.
    *
    * NAMING CONTRACT (the residue a name-keyed object store cannot
    * close): the covered retry identifies the batch's objects by NAME,
    * so a producer that OVERWRITES an inbound object in the crash
    * window (same name, new bytes) would see the new bytes archived
    * unlanded. Inbound object names must be unique per delivery — the
    * reference's convention already timestamps them
    * (`dataIngestionUtils.py:245`); re-delivering under a fresh name is
    * always safe. */
  def ingestFiles(spark: SparkSession, root: String, inbound: String,
      relay: graft.files.FileRelay, processedPrefix: String,
      entry: CatalogEntry, batchId: Option[Long] = None,
      beforeRootSwing: () => Unit = () => ()): Long = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val landingT = s"$root/$LandingMember"
    val schema = StructType(Seq(
      StructField("obj_name", StringType), StructField("length", LongType),
      StructField("content", BinaryType), StructField("batch_id", LongType)))
    val listed = relay.list(inbound)
    val covered = batchId.exists(b =>
      AtomicLanding.lastBatchId(landingT).exists(_ >= b))
    val bid = batchId.getOrElse(-1L)
    // ONE reader call over every escaped path — a per-object
    // scan-per-union would make analysis O(listing) relations deep
    // (slow planning, StackOverflow risk on a thousand-object batch).
    // obj_name derives from the scan's `path` column via
    // [[rawPathName]] — the name must match the relay listing's
    // Path.getName at archive time or a covered retry would skip the
    // object forever. An empty batch is a local relation, so its
    // commit writes on the driver with no Spark job.
    val data =
      if (covered || listed.isEmpty)
        spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)
      else spark.read.format("binaryFile")
        .load(listed.map(p => globEscape(p.toString)): _*)
        .select(rawPathName(col("path")).as("obj_name"),
          col("length"), col("content"), lit(bid).as("batch_id"))
    val gen = ingest(spark, root, data, entry, batchId, beforeRootSwing,
      evolveLanding = true)
    val toArchive =
      if (!covered) listed
      else {
        // covered retry: the batch's own durable landing rows say what
        // to archive; anything else under inbound arrived after the
        // crashed attempt's listing and belongs to a future batch
        // a standing root from an older engine may have pre-evolution
        // dirs without batch_id: the recorded schema still names the
        // column (null in those rows), so the filter resolves on every
        // retry (the converging ladder evolveLanding exists to keep)
        val names = AtomicLanding.read(spark, landingT)
          .where(col("batch_id") === lit(bid))
          .select(col("obj_name")).distinct()
          .collect().map(_.getString(0)).toSet
        listed.filter(p => names.contains(p.getName))
      }
    relay.moveExact(toArchive, processedPrefix)
    gen
  }

  /** Stream-pattern transactional ingest — C1's stream pattern under the
    * one-swing contract. The non-transactional path
    * ([[graft.stream.StreamMerger.mergeCompat]] then a catalog insert)
    * merges inbound concatenated-JSON objects into one array file and
    * archives inputs BEFORE the run record exists — a crash there loses
    * the record AND the inputs' inbound copies. Here each event lands as
    * a `(src_obj, event_json, batch_id)` row in the landing member
    * (split on the executors by the same depth-counter splitter as the
    * streaming path — never O(total bytes) on the driver like the
    * reference, `dataIngestionUtils.py:256-261`), one swing with the run
    * record, archive after. Same one-listing rule and replay ladder as
    * [[ingestFiles]]: the entry listing is read exactly, landed exactly
    * (each event carries its source object's name), and archived
    * exactly; a covered retry archives only objects whose events this
    * batch durably landed. One residue the file pattern does not have: a
    * listed object whose content splits to ZERO events leaves no landing
    * row, so a covered retry cannot prove it was part of the batch and
    * leaves it in inbound — it re-lands zero rows under the NEXT batch
    * and archives with that batch's exact listing (convergent, never
    * lossy). */
  def ingestStream(spark: SparkSession, root: String, inbound: String,
      relay: graft.files.FileRelay, processedPrefix: String,
      entry: CatalogEntry, batchId: Option[Long] = None,
      beforeRootSwing: () => Unit = () => ()): Long = {
    import org.apache.spark.sql.functions._
    val landingT = s"$root/$LandingMember"
    val listed = relay.list(inbound)
    val covered = batchId.exists(b =>
      AtomicLanding.lastBatchId(landingT).exists(_ >= b))
    val bid = batchId.getOrElse(-1L)
    val data =
      if (covered || listed.isEmpty) {
        import spark.implicits._
        spark.emptyDataset[(String, String, Long)]
          .toDF("src_obj", "event_json", "batch_id")
      } else {
        val split = udf((s: String) =>
          graft.stream.StreamMerger.splitConcatenated(s))
        // ONE reader call over every escaped path (see ingestFiles —
        // never a per-object union); input_file_name() returns the
        // URL-ENCODED URI, which cannot match the relay listing at
        // archive time, so [[decodedName]] replays the decoding; the
        // split still runs on the executors
        spark.read.option("wholetext", "true")
          .text(listed.map(p => globEscape(p.toString)): _*)
          .select(decodedName(input_file_name()).as("src_obj"),
            explode(split(col("value"))).as("event_json"),
            lit(bid).as("batch_id"))
      }
    val gen = ingest(spark, root, data, entry, batchId, beforeRootSwing,
      evolveLanding = true)
    val toArchive =
      if (!covered) listed
      else {
        val names = AtomicLanding.read(spark, landingT)
          .where(col("batch_id") === lit(bid))
          .select(col("src_obj")).distinct()
          .collect().map(_.getString(0)).toSet
        listed.filter(p => names.contains(p.getName))
      }
    relay.moveExact(toArchive, processedPrefix)
    gen
  }

  /** The catalog member's writer channel holding the highest
    * `lastExtTime` its runs recorded, in microseconds since the epoch. */
  val WatermarkMark = "__ext_time__"

  private def micros(t: java.sql.Timestamp): Long = DateTimeUtils.fromJavaTimestamp(t)

  /** `max(lastExtTime)` of the catalog snapshot `m` publishes, in
    * microseconds: its [[WatermarkMark]], or — on a manifest without
    * the mark (a catalog written before marks existed) — one aggregate
    * over the snapshot. */
  private def recordedWatermark(spark: SparkSession, catalogT: String,
      m: AtomicLanding.Manifest): Option[Long] =
    m.marks.get(WatermarkMark).orElse(
      Option(AtomicLanding.readVersion(spark, catalogT, m.version)
        .agg(functions.max("lastExtTime")).head().getTimestamp(0)).map(micros))

  /** The highest extraction watermark recorded in the root's catalog
    * member — for [[IngestionJob]]'s transactional mode the watermark
    * OF RECORD: it became durable in the same root swing as the data
    * it describes, so a crash can never leave landed data whose
    * interval the next run would re-extract (the separate-store
    * ordering's residual window). Read from the mark in the catalog
    * manifest the live root pins — the root and one manifest, no Spark
    * job. None until a publish completes or if every recorded run was
    * a full extract. */
  def highestWatermark(spark: SparkSession, root: String): Option[java.sql.Timestamp] =
    AtomicLanding.linkedSnapshot(root).flatMap { s =>
      val catalogT = s"$root/$CatalogMember"
      recordedWatermark(spark, catalogT,
        AtomicLanding.manifestOf(catalogT, s.members(CatalogMember)))
    }.map(DateTimeUtils.toJavaTimestamp)

  /** One consistent (landing, catalog) pair — both members read AT the
    * same root generation's pins, so the pair can never be torn by a
    * concurrent [[ingest]]. None until the first publish completes. */
  def snapshot(spark: SparkSession, root: String): Option[(DataFrame, DataFrame)] =
    AtomicLanding.linkedSnapshot(root).map { s =>
      (AtomicLanding.readVersion(spark, s"$root/$LandingMember",
          s.members(LandingMember)),
        AtomicLanding.readVersion(spark, s"$root/$CatalogMember",
          s.members(CatalogMember)))
    }
}
