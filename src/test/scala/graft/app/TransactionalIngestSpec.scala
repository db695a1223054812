package graft.app

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{JobCounter, TestSpark}
import graft.land.AtomicLanding
import graft.model.CatalogEntry
import graft.queries.Spool

class TransactionalIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    Spool.dir("graft-txn") + "/root"

  private def entry(execId: String): CatalogEntry = CatalogEntry(
    execId = execId, srcSysId = 1, assetId = 101,
    dqValidation = CatalogEntry.StatusNotStarted,
    dataPublish = CatalogEntry.StatusNotStarted,
    dataMasking = CatalogEntry.StatusNotStarted,
    srcFilePath = s"raw/$execId", s3LogPath = s"logs/$execId",
    procStartTs = new Timestamp(1700000000000L),
    createdTs = new Timestamp(1700000001000L),
    lastExtTime = None)

  private lazy val docs = graft.Tables.t(spark, TestSpark.Sf0001, "documents")
    .select(col("doc_id"), col("source"))

  test("the run record lands at the case class's encoder schema and reads back as the entry") {
    val root = freshRoot()
    val e = entry("e0").copy(lastExtTime = Some(new Timestamp(1700000002123L)))
    TransactionalIngest.ingest(spark, root, docs.limit(1), e, batchId = Some(1L))
    // the manifest records the committed frame's schema (a parquet read
    // relaxes every column to nullable, so the recorded line is the check)
    assert(AtomicLanding.liveSchema(spark, s"$root/${TransactionalIngest.CatalogMember}")
      .contains(org.apache.spark.sql.Encoders.product[CatalogEntry].schema))
    val (_, cat) = TransactionalIngest.snapshot(spark, root).get
    assert(cat.as[CatalogEntry].collect().toSeq == Seq(e))
  }

  test("landing + catalog publish in one swing; crash between member commits and the root swing exposes NEITHER; the identified retry converges") {
    val root = freshRoot()
    val b1 = docs.filter(col("doc_id") < 100)
    // batch 1 lands clean
    val g1 = TransactionalIngest.ingest(spark, root, b1, entry("e1"),
      batchId = Some(1L))
    val Some((land1, cat1)) = TransactionalIngest.snapshot(spark, root)
    assert(land1.count() == b1.count())
    assert(cat1.select("execId").as[String].collect().toSeq == Seq("e1"))

    // batch 2 CRASHES between the member commits and the root swing —
    // the widest window (both members durably committed, root not)
    val b2 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
    val boom = intercept[RuntimeException] {
      TransactionalIngest.ingest(spark, root, b2, entry("e2"),
        batchId = Some(2L),
        beforeRootSwing =
          () => throw new RuntimeException("crash before the root swing"))
    }
    assert(boom.getMessage.contains("crash before the root swing"))
    // the torn state is unrepresentable: a root-resolving reader still
    // sees batch 1 EXACTLY — no landed-but-unrecorded data, no
    // recorded-but-unlanded run
    val Some((landT, catT)) = TransactionalIngest.snapshot(spark, root)
    assert(landT.count() == b1.count(),
      "crashed batch's data must be invisible through the root")
    assert(catT.select("execId").as[String].collect().toSeq == Seq("e1"),
      "crashed batch's run record must be invisible through the root")

    // the identified retry replays member commits as no-ops (watermark
    // covers id 2) and completes the publish
    val g2 = TransactionalIngest.ingest(spark, root, b2, entry("e2"),
      batchId = Some(2L))
    assert(g2 == g1 + 1)
    val Some((land2, cat2)) = TransactionalIngest.snapshot(spark, root)
    assert(land2.count() == b1.count() + b2.count(),
      "the retry must land batch 2 exactly once")
    assert(cat2.select("execId").as[String].collect().sorted.toSeq
      == Seq("e1", "e2"))

    // a FULL replay of an already-published batch is a pure no-op:
    // same generation, same rows, no duplicate run record
    assert(TransactionalIngest.ingest(spark, root, b2, entry("e2"),
      batchId = Some(2L)) == g2)
    val Some((land3, cat3)) = TransactionalIngest.snapshot(spark, root)
    assert(land3.count() == land2.count())
    assert(cat3.count() == 2)
  }

  test("file pattern one-swing: crash before the swing exposes nothing and keeps inbound; the retry converges with byte fidelity") {
    val root = freshRoot()
    val tmp = Spool.dir("graft-txn-f")
    val inbound = s"$tmp/inbound"; val processed = s"$tmp/processed"
    val relay = new graft.files.FileRelay()
    import org.apache.hadoop.fs.Path
    relay.writeUtf8(new Path(s"$inbound/a.csv"), "x,y\n1,2\n")
    relay.writeUtf8(new Path(s"$inbound/b.txt"), "héllo 😀") // multibyte bytes

    val boom = intercept[RuntimeException] {
      TransactionalIngest.ingestFiles(spark, root, inbound, relay, processed,
        entry("f1"), batchId = Some(10L),
        beforeRootSwing = () => throw new RuntimeException("crash pre-swing"))
    }
    assert(boom.getMessage.contains("crash pre-swing"))
    assert(TransactionalIngest.snapshot(spark, root).isEmpty,
      "members committed but root never swung: a reader sees NOTHING")
    assert(relay.list(inbound).size == 2, "inbound must survive the crash")
    assert(relay.list(processed).isEmpty, "no archive before the swing")

    // identified retry: lands once, archives, byte-exact content rows
    TransactionalIngest.ingestFiles(spark, root, inbound, relay, processed,
      entry("f1"), batchId = Some(10L))
    val Some((land, cat)) = TransactionalIngest.snapshot(spark, root)
    assert(cat.count() == 1)
    val rows = land.orderBy("obj_name").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a.csv", "b.txt"))
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    assert(new String(rows(1).getAs[Array[Byte]]("content"), utf8)
      == "héllo 😀", "content must round-trip byte-for-byte")
    assert(rows.forall(r =>
      r.getAs[Long]("length") == r.getAs[Array[Byte]]("content").length))
    assert(relay.list(inbound).isEmpty && relay.list(processed).size == 2)

    // replay after the archive (inbound empty): pure no-op, no duplicates
    TransactionalIngest.ingestFiles(spark, root, inbound, relay, processed,
      entry("f1"), batchId = Some(10L))
    val Some((land2, cat2)) = TransactionalIngest.snapshot(spark, root)
    assert(land2.count() == 2 && cat2.count() == 1)
  }

  test("file pattern: crash AFTER the swing but before the archive — retry skips the land (no duplicates) and finishes the move") {
    val root = freshRoot()
    val tmp = Spool.dir("graft-txn-f2")
    val inbound = s"$tmp/inbound"; val processed = s"$tmp/processed"
    var failMove = true
    val relay = new graft.files.FileRelay() {
      override def moveExact(ps: Seq[org.apache.hadoop.fs.Path],
          d: String): Seq[org.apache.hadoop.fs.Path] =
        if (failMove) { failMove = false
          throw new RuntimeException("crash post-swing") }
        else super.moveExact(ps, d)
    }
    relay.writeUtf8(new org.apache.hadoop.fs.Path(s"$inbound/a.csv"), "x\n1\n")
    intercept[RuntimeException] {
      TransactionalIngest.ingestFiles(spark, root, inbound, relay, processed,
        entry("f1"), batchId = Some(10L))
    }
    // published but not archived — the window the batch id must cover
    assert(TransactionalIngest.snapshot(spark, root).isDefined)
    assert(relay.list(inbound).size == 1)
    TransactionalIngest.ingestFiles(spark, root, inbound, relay, processed,
      entry("f1"), batchId = Some(10L))
    val Some((land, cat)) = TransactionalIngest.snapshot(spark, root)
    assert(land.count() == 1 && cat.count() == 1,
      "inbound still present at retry must NOT re-land: the id covers it")
    assert(relay.list(inbound).isEmpty && relay.list(processed).size == 1)
  }

  test("file pattern: an object arriving AFTER the run's listing is never archived unlanded — it stays for the next batch (ADVICE r18 high)") {
    val root = freshRoot()
    val tmp = Spool.dir("graft-txn-late")
    val inbound = s"$tmp/inbound"; val processed = s"$tmp/processed"
    // inject: late.csv lands immediately after the run's ONE listing —
    // the window where the old fresh-listing archive swept it to
    // processed without ever landing it (silent loss)
    val relay = new graft.files.FileRelay() {
      private var first = true
      override def list(prefix: String): Seq[org.apache.hadoop.fs.Path] = {
        val r = super.list(prefix)
        if (first && prefix == inbound) { first = false
          writeUtf8(new org.apache.hadoop.fs.Path(s"$inbound/late.csv"), "late")
        }
        r
      }
    }
    relay.writeUtf8(new org.apache.hadoop.fs.Path(s"$inbound/a.csv"), "x\n1\n")
    TransactionalIngest.ingestFiles(spark, root, inbound, relay, processed,
      entry("f1"), batchId = Some(10L))
    val Some((land, _)) = TransactionalIngest.snapshot(spark, root)
    assert(land.select("obj_name").as[String].collect().toSeq == Seq("a.csv"),
      "the run lands exactly its listing")
    assert(relay.list(processed).map(_.getName) == Seq("a.csv"),
      "the run archives exactly its listing")
    assert(relay.list(inbound).map(_.getName) == Seq("late.csv"),
      "the late arrival must stay in inbound — never archived unlanded")
    // the next batch picks it up: landed AND archived, exactly once
    TransactionalIngest.ingestFiles(spark, root, inbound, relay, processed,
      entry("f2"), batchId = Some(11L))
    val Some((land2, _)) = TransactionalIngest.snapshot(spark, root)
    assert(land2.select("obj_name").as[String].collect().sorted.toSeq
      == Seq("a.csv", "late.csv"))
    assert(relay.list(inbound).isEmpty && relay.list(processed).size == 2)
  }

  test("file pattern: covered-batchId retry archives ONLY the batch's landed objects; a post-crash arrival survives for its own batch") {
    val root = freshRoot()
    val tmp = Spool.dir("graft-txn-cret")
    val inbound = s"$tmp/inbound"; val processed = s"$tmp/processed"
    var failMove = true
    val relay = new graft.files.FileRelay() {
      override def moveExact(ps: Seq[org.apache.hadoop.fs.Path],
          d: String): Seq[org.apache.hadoop.fs.Path] =
        if (failMove) { failMove = false
          throw new RuntimeException("crash post-swing") }
        else super.moveExact(ps, d)
    }
    // a name that URL-encodes differently than it lists: the landed
    // obj_name must be the relay's DECODED name or the covered retry
    // can never match it (input_file_name()/path-column forms encode
    // the space as %20 and the literal % as %25)
    relay.writeUtf8(new org.apache.hadoop.fs.Path(s"$inbound/a 100% file.csv"), "x\n1\n")
    intercept[RuntimeException] {
      TransactionalIngest.ingestFiles(spark, root, inbound, relay, processed,
        entry("f1"), batchId = Some(10L))
    }
    // between the crash and the retry, a NEW object accumulates in
    // inbound — the r18 advice's worst case: the covered retry skips the
    // member commits, so a prefix-wide archive would move it unlanded
    relay.writeUtf8(new org.apache.hadoop.fs.Path(s"$inbound/late.csv"), "late")
    TransactionalIngest.ingestFiles(spark, root, inbound, relay, processed,
      entry("f1"), batchId = Some(10L))
    val Some((land, _)) = TransactionalIngest.snapshot(spark, root)
    assert(land.select("obj_name").as[String].collect().toSeq
      == Seq("a 100% file.csv"),
      "the covered retry must not re-land (the id covers the batch)")
    assert(relay.list(processed).map(_.getName) == Seq("a 100% file.csv"),
      "the retry archives exactly the batch's durable landing set")
    assert(relay.list(inbound).map(_.getName) == Seq("late.csv"),
      "the post-crash arrival must stay in inbound")
  }

  test("stream pattern: covered-batchId retry archives only objects whose events landed; a post-crash arrival survives") {
    val root = freshRoot()
    val tmp = Spool.dir("graft-txn-scret")
    val inbound = s"$tmp/inbound"; val processed = s"$tmp/processed"
    var failMove = true
    val relay = new graft.files.FileRelay() {
      override def moveExact(ps: Seq[org.apache.hadoop.fs.Path],
          d: String): Seq[org.apache.hadoop.fs.Path] =
        if (failMove) { failMove = false
          throw new RuntimeException("crash post-swing") }
        else super.moveExact(ps, d)
    }
    relay.writeUtf8(new org.apache.hadoop.fs.Path(s"$inbound/e 1.json"),
      """{"a":1}{"a":2}""")
    intercept[RuntimeException] {
      TransactionalIngest.ingestStream(spark, root, inbound, relay, processed,
        entry("s1"), batchId = Some(20L))
    }
    relay.writeUtf8(new org.apache.hadoop.fs.Path(s"$inbound/e2.json"),
      """{"a":3}""")
    TransactionalIngest.ingestStream(spark, root, inbound, relay, processed,
      entry("s1"), batchId = Some(20L))
    val Some((land, _)) = TransactionalIngest.snapshot(spark, root)
    assert(land.select("event_json").as[String].collect().sorted.toSeq
      == Seq("""{"a":1}""", """{"a":2}"""),
      "the covered retry must not land the post-crash object under the old id")
    assert(relay.list(processed).map(_.getName) == Seq("e 1.json"),
      "the covered retry must match the DECODED src_obj name")
    assert(relay.list(inbound).map(_.getName) == Seq("e2.json"),
      "the post-crash arrival stays for its own batch")
    // and its own batch lands it exactly once
    TransactionalIngest.ingestStream(spark, root, inbound, relay, processed,
      entry("s2"), batchId = Some(21L))
    assert(TransactionalIngest.snapshot(spark, root).get._1.count() == 3)
    assert(relay.list(inbound).isEmpty)
  }

  test("file pattern: glob metacharacters in object names load LITERALLY — never a different file's bytes, never a wedged batch") {
    val root = freshRoot()
    val tmp = Spool.dir("graft-txn-glob")
    val inbound = s"$tmp/inbound"; val processed = s"$tmp/processed"
    val relay = new graft.files.FileRelay()
    import org.apache.hadoop.fs.Path
    // the glob trap: an unescaped load of "data[1].csv" would match
    // data1.csv instead — landing the WRONG bytes under obj_name
    // "data[1].csv" while the real object archives unlanded
    relay.writeUtf8(new Path(s"$inbound/data[1].csv"), "bracketed")
    relay.writeUtf8(new Path(s"$inbound/data1.csv"), "plain")
    TransactionalIngest.ingestFiles(spark, root, inbound, relay, processed,
      entry("g1"), batchId = Some(10L))
    val Some((land, _)) = TransactionalIngest.snapshot(spark, root)
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val byName = land.collect().map(r => r.getAs[String]("obj_name") ->
      new String(r.getAs[Array[Byte]]("content"), utf8)).toMap
    assert(byName == Map("data[1].csv" -> "bracketed", "data1.csv" -> "plain"),
      "each object's own bytes must land under its own name")
    assert(relay.list(inbound).isEmpty && relay.list(processed).size == 2)
  }

  test("stream pattern one-swing: events land as rows with the record; crash/retry ladder converges") {
    val root = freshRoot()
    val tmp = Spool.dir("graft-txn-s")
    val inbound = s"$tmp/inbound"; val processed = s"$tmp/processed"
    val relay = new graft.files.FileRelay()
    import org.apache.hadoop.fs.Path
    // brace-inside-string event: the reference's }{ splice would corrupt it
    relay.writeUtf8(new Path(s"$inbound/e1.json"), """{"a":1}{"a":2,"s":"}{"}""")
    relay.writeUtf8(new Path(s"$inbound/e2.json"), """{"a":3}""")

    intercept[RuntimeException] {
      TransactionalIngest.ingestStream(spark, root, inbound, relay, processed,
        entry("s1"), batchId = Some(20L),
        beforeRootSwing = () => throw new RuntimeException("crash pre-swing"))
    }
    assert(TransactionalIngest.snapshot(spark, root).isEmpty)
    assert(relay.list(inbound).size == 2 && relay.list(processed).isEmpty)

    TransactionalIngest.ingestStream(spark, root, inbound, relay, processed,
      entry("s1"), batchId = Some(20L))
    val Some((land, cat)) = TransactionalIngest.snapshot(spark, root)
    assert(cat.select("execId").as[String].collect().toSeq == Seq("s1"))
    assert(land.select("event_json").as[String].collect().sorted.toSeq ==
      Seq("""{"a":1}""", """{"a":2,"s":"}{"}""", """{"a":3}"""))
    assert(relay.list(inbound).isEmpty && relay.list(processed).size == 2)

    // replay after archive: no-op
    TransactionalIngest.ingestStream(spark, root, inbound, relay, processed,
      entry("s1"), batchId = Some(20L))
    assert(TransactionalIngest.snapshot(spark, root).get._1.count() == 3)
  }

  test("snapshot pairs are torn-proof: a reader resolving mid-publish sees all-old or all-new, never landing without its record") {
    val root = freshRoot()
    TransactionalIngest.ingest(spark, root,
      docs.filter(col("doc_id") < 50), entry("e1"), batchId = Some(1L))
    // resolve the OLD generation, then publish a new one, then read the
    // old handles: version-pinned reads must still serve the old pair
    val Some((landOld, catOld)) = TransactionalIngest.snapshot(spark, root)
    val nOld = landOld.count(); val cOld = catOld.count()
    TransactionalIngest.ingest(spark, root,
      docs.filter(col("doc_id") >= 50 && col("doc_id") < 120),
      entry("e2"), batchId = Some(2L))
    assert(landOld.count() == nOld && catOld.count() == cOld,
      "a resolved snapshot must be immune to later publishes")
    val Some((landNew, catNew)) = TransactionalIngest.snapshot(spark, root)
    assert(catNew.count() == 2 && landNew.count() > nOld)
  }

  /** `max(lastExtTime)` of the catalog member the live root pins, by
    * aggregate — what the watermark of record must equal. */
  private def pinnedMax(root: String): Option[Timestamp] =
    TransactionalIngest.snapshot(spark, root).flatMap { case (_, cat) =>
      Option(cat.agg(max("lastExtTime")).head().getTimestamp(0))
    }

  private def run(root: String, id: Long, w: Option[String],
      beforeRootSwing: () => Unit = () => ()): Unit = {
    TransactionalIngest.ingest(spark, root,
      docs.filter(col("doc_id") >= id * 10 && col("doc_id") < id * 10 + 10),
      entry(s"e$id").copy(lastExtTime = w.map(Timestamp.valueOf)),
      batchId = Some(id), beforeRootSwing = beforeRootSwing)
    ()
  }

  test("the watermark of record is a catalog manifest mark: max(lastExtTime) of the pinned member to the microsecond, read with no Spark job") {
    val root = freshRoot()
    assert(TransactionalIngest.highestWatermark(spark, root).isEmpty)
    run(root, 1, None) // a run without a watermark stamps nothing
    assert(TransactionalIngest.highestWatermark(spark, root).isEmpty)
    for ((w, id) <- Seq("2024-01-10 00:00:00.123456", "2024-01-12 08:30:00.000001",
        "2024-01-11 00:00:00.999999").zip(Seq(2L, 3L, 4L))) {
      run(root, id, Some(w))
      val (hw, jobs) = JobCounter.jobsDuring(spark)(
        TransactionalIngest.highestWatermark(spark, root))
      assert(jobs == 0, s"highestWatermark ran $jobs Spark jobs")
      assert(hw.isDefined && hw == pinnedMax(root), s"$hw vs ${pinnedMax(root)}")
    }
    // a lower watermark never regresses the mark: the max stays
    assert(TransactionalIngest.highestWatermark(spark, root).contains(
      Timestamp.valueOf("2024-01-12 08:30:00.000001")))
  }

  test("a crash before the root swing leaves the watermark at the pinned generation's value") {
    val root = freshRoot()
    run(root, 1, Some("2024-01-10 00:00:00.5"))
    intercept[RuntimeException] {
      run(root, 2, Some("2024-02-01 00:00:00.25"),
        () => throw new RuntimeException("crash before the root swing"))
    }
    // the catalog member committed the newer run (and its mark), but the
    // root still pins the older generation
    val catalogT = s"$root/${TransactionalIngest.CatalogMember}"
    assert(AtomicLanding.currentVersion(catalogT).contains(1L))
    assert(TransactionalIngest.highestWatermark(spark, root).contains(
      Timestamp.valueOf("2024-01-10 00:00:00.5")))
    run(root, 2, Some("2024-02-01 00:00:00.25")) // the retry publishes it
    assert(TransactionalIngest.highestWatermark(spark, root).contains(
      Timestamp.valueOf("2024-02-01 00:00:00.25")))
  }

  test("a catalog manifest without the mark falls back to the aggregate, and the next stamp carries its max") {
    val root = freshRoot()
    run(root, 1, Some("2024-03-01 00:00:00.000123"))
    run(root, 2, Some("2024-03-05 00:00:00.000456"))
    val before = TransactionalIngest.highestWatermark(spark, root)
    // strip the mark from the pinned catalog manifest: the shape of a
    // root written before the mark existed
    val catalogT = s"$root/${TransactionalIngest.CatalogMember}"
    val v = AtomicLanding.linkedSnapshot(root).get.members(TransactionalIngest.CatalogMember)
    val mPath = java.nio.file.Paths.get(catalogT, "manifests", f"m-$v%010d")
    val text = new String(java.nio.file.Files.readAllBytes(mPath), "UTF-8")
    java.nio.file.Files.write(mPath, text.split("\n")
      .filterNot(_.startsWith(s"# wmark ${TransactionalIngest.WatermarkMark} "))
      .mkString("\n").getBytes("UTF-8"))
    assert(AtomicLanding.manifestOf(catalogT, v).marks.get(
      TransactionalIngest.WatermarkMark).isEmpty)
    val (legacy, jobs) = JobCounter.jobsDuring(spark)(
      TransactionalIngest.highestWatermark(spark, root))
    assert(jobs > 0, "a markless manifest answers by aggregate")
    assert(legacy == before && legacy == pinnedMax(root))
    // a run with a LOWER watermark than the legacy rows: the first stamp
    // on the markless catalog is seeded with their max
    run(root, 3, Some("2024-03-02 00:00:00"))
    assert(TransactionalIngest.highestWatermark(spark, root) == before)
    assert(pinnedMax(root) == before)
  }
}
