package graft.land

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path => HPath}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormatWriter}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, lit, max, when}
import org.apache.spark.sql.types.{DataType, StructType}

/** ACID landing commits.
  *
  * The reference's commit point is write-then-catalog-insert
  * (`/root/reference/ingestion/dataIngestion.py:26-34`): the parquet/csv
  * write lands directly in the target prefix and the run record is
  * inserted afterwards, so a crash mid-write leaves partial files that
  * the next reader happily scans. This module closes that hole with the
  * manifest-pointer pattern (the primitive Delta Lake and Iceberg are
  * built on — no Delta jars exist in this container, so the primitive is
  * implemented directly):
  *
  * {{{
  * table/
  *   _CURRENT                 one small pointer file: "m-0000000042"
  *   manifests/m-0000000042   text manifest: one live data dir per line
  *   data/<uuid>/             immutable, fully-written parquet dirs
  *   .staging/<uuid>/         in-flight writes — readers never look here
  * }}}
  *
  * Commit protocol: (1) write the batch into a fresh staging dir;
  * (2) require the writer's completion mark — a write job returning
  * after every authorized task commit ([[StagingCommitProtocol]]), or,
  * for rows already on the driver, the driver writer's `close()`
  * returning (see [[stage]]); (3) move the staging dir
  * under `data/` (same-filesystem rename — the dir is still unreachable:
  * no manifest lists it); (4) write the next manifest (previous dirs +
  * new dir for an append, just the new dir for an overwrite);
  * (5) publish by atomically replacing `_CURRENT`. A crash at any step
  * before (5) leaves `_CURRENT` untouched — readers keep the previous
  * snapshot; orphaned staging/data dirs are garbage, not data, and
  * [[vacuum]] removes them.
  *
  * All IO goes through the Hadoop `FileSystem`/`FileContext` abstraction
  * (the same one `graft.files.FileRelay` uses), so the identical protocol
  * runs on `file://`, `hdfs://`, `s3a://`, or any mounted Hadoop FS. On
  * `file:` the metadata steps (the staging, `data/` and `manifests/`
  * dirs, the manifest reservation, the pointer swing) go through NIO
  * instead: without libhadoop, Hadoop's local FS forks a `chmod` for
  * every file it creates and every dir it makes.
  * Atomicity of step (5) is the [[PointerStore]] seam:
  *   - local FS: one POSIX `rename(2)` (NIO `ATOMIC_MOVE`; no `.crc`
  *     sidecars shadow the overwritten pointer);
  *   - HDFS: `FileSystem.rename` refuses an existing destination, so the
  *     swing falls back to `FileContext.rename(..., OVERWRITE)` — HDFS's
  *     documented atomic overwriting rename;
  *   - object stores without atomic rename (S3 et al.): a direct
  *     whole-object PUT of the pointer key — already atomic for readers.
  *     That is the ONLY primitive the protocol needs from the store —
  *     data dirs and manifests are immutable and never overwritten, so
  *     reader isolation never depends on directory-rename atomicity
  *     (proven by the multi-writer suite running under a wrapper FS that
  *     refuses overwriting renames, `S3SimAtomicLandingSpec`).
  * Multi-writer commits use optimistic concurrency, the same shape as
  * Delta's protocol: the EXCLUSIVE create of manifest `m-(v+1)` is the
  * per-version lock — at most one writer can own a version, a loser
  * waits for the winner to publish and rebases its manifest on the new
  * snapshot, and only the slot holder of `published+1` can swing the
  * pointer, so the pointer never skips or regresses. A writer that dies
  * holding a slot poisons it (later commits fail loudly after a bounded
  * wait); [[vacuum]] removes orphaned future manifests and heals the
  * table. The reservation relies on the store's atomic
  * create-fails-if-exists (HDFS `create(overwrite=false)`; on S3 the
  * conditional `If-None-Match` PUT; the raw local FS has a
  * check-then-act window that is irrelevant single-host and absent on
  * the real stores).
  */
object AtomicLanding {

  private val Pointer = "_CURRENT"

  private def manifestName(v: Long): String = f"m-$v%010d"

  /** The Hadoop conf of ONE public operation: the active session's, so
    * its `spark.hadoop.*` settings apply. Each call copies the whole
    * session conf, so an operation resolves it once and passes it to
    * every path lookup it makes. */
  private def hconf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** FileSystem for `p`. Local FS: unwrap the checksum layer — manifest
    * and pointer files need no `.crc` sidecars, and the raw rename is a
    * single POSIX `rename(2)`. (Spark's own parquet writes keep their
    * usual FS.) */
  private def fsOf(p: HPath, conf: Configuration): FileSystem =
    p.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  private def hp(parts: String*): HPath = new HPath(parts.mkString("/"))

  /** `p` as an NIO path when `fs` is the local file system. */
  private[graft] def localPath(fs: FileSystem, p: HPath): Option[java.nio.file.Path] =
    if (fs.getUri.getScheme == "file")
      Some(java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath))
    else None

  /** The `.crc` sidecar Hadoop's checksummed local file system keeps
    * beside local file `l`. */
  private[graft] def crcSidecar(l: java.nio.file.Path): java.nio.file.Path =
    l.resolveSibling(s".${l.getFileName}.crc")

  /** `mkdirs`; through NIO on the local file system, where Hadoop forks
    * a `chmod` for each dir it makes. */
  private def mkdirs(fs: FileSystem, p: HPath): Unit = localPath(fs, p) match {
    case Some(l) => java.nio.file.Files.createDirectories(l)
    case None => fs.mkdirs(p)
  }

  /** One open per read: no length probe first (a second metadata call,
    * one more request on an object store). */
  private def readUtf8(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** [[readUtf8]], or None when `p` does not exist — the open IS the
    * existence probe. */
  private def readIfExists(p: HPath, conf: Configuration): Option[String] =
    try Some(readUtf8(fsOf(p, conf), p))
    catch { case _: java.io.FileNotFoundException => None }

  /** Exclusively reserve manifest slot `m` and write its content — the
    * per-version lock of the optimistic protocol. Readers never look at
    * manifests above the pointer, so the non-atomic content write after
    * the atomic name reservation is never observed half-done. Returns
    * false when the slot is already owned.
    *
    * Local FS goes through NIO `CREATE_NEW` (a single O_EXCL open —
    * Hadoop's RawLocalFileSystem create is check-then-act and two local
    * writers could both "win"); HDFS `create(overwrite=false)` is atomic
    * server-side, and an S3-class store supplies the conditional PUT. */
  private def reserveManifest(fs: FileSystem, m: HPath, content: String): Boolean = {
    val bytes = content.getBytes(StandardCharsets.UTF_8)
    localPath(fs, m) match {
      case Some(p) =>
        java.nio.file.Files.createDirectories(p.getParent)
        try {
          val out = java.nio.file.Files.newOutputStream(p,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          try out.write(bytes) finally out.close()
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case None if fs.exists(m) => false
      case None =>
        try {
          val out = fs.create(m, false) // create-fails-if-exists: the lock
          try out.write(bytes) finally out.close()
          true
        } catch { case _: java.io.IOException if fs.exists(m) => false }
    }
  }

  /** The published version, if any commit has ever completed. */
  def currentVersion(table: String): Option[Long] = versionOf(table, hconf())

  private def versionOf(table: String, conf: Configuration): Option[Long] =
    readIfExists(hp(table, Pointer), conf).map(_.trim.stripPrefix("m-").toLong)

  /** One parsed manifest: the version it publishes and its lines. A
    * reader or a commit attempt parses the manifest it works from ONCE
    * and takes everything from it — the live dirs, the `# range` lines,
    * the `# batch` and `# wmark` marks and the `# schema` line — so one
    * resolution costs one pointer read and one manifest read (one GET
    * each on an object store), however many of those facts it needs. */
  final case class Manifest(version: Long, lines: Seq[String]) {

    /** The data dirs, in manifest order (relative to the table, or
      * absolute for a [[cloneShallow]] target's inherited dirs). */
    lazy val dirs: Seq[String] = lines.filterNot(_.startsWith("#"))

    /** The default channel's batch-id high-water mark (`# batch`). */
    lazy val batch: Option[Long] = lines.collectFirst {
      case l if l.startsWith("# batch ") => l.stripPrefix("# batch ").trim.toLong
    }

    /** Every named writer channel's high-water mark (`# wmark`). */
    lazy val marks: Map[String, Long] = lines.collect {
      case l if l.startsWith("# wmark ") =>
        l.stripPrefix("# wmark ").trim.split(" ") match {
          case Array(w, id) => dec(w) -> id.toLong
        }
    }.toMap

    /** The mark of `writer`'s channel; `""` is the default channel. */
    def mark(writer: String): Option[Long] =
      if (writer.isEmpty) batch else marks.get(writer)

    /** The schema the commit recorded, None on a manifest written before
      * schema lines existed. */
    lazy val schema: Option[StructType] = lines.collectFirst {
      case l if l.startsWith("# schema ") =>
        DataType.fromJson(l.stripPrefix("# schema ")).asInstanceOf[StructType]
    }

    /** (dir, key) -> range, from the `# range` lines. Bounds are
      * URL-encoded in the manifest so arbitrary string keys (spaces,
      * newlines) survive the line format. */
    private[land] lazy val ranges: Map[(String, String), KeyRange] = lines.collect {
      case l if l.startsWith("# range ") =>
        l.stripPrefix("# range ").trim.split(" ") match {
          case Array(d, k, t, lo, hi) => ((dec(d), dec(k)), (t, dec(lo), dec(hi)))
          case other => throw new IllegalStateException(
            s"malformed range line (${other.length} fields): $l")
        }
    }.toMap
  }

  private def parseManifest(v: Long, text: String): Manifest =
    Manifest(v, text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty))

  /** The published snapshot's manifest, if any commit has completed. */
  def manifest(table: String): Option[Manifest] = manifestIn(table, hconf())

  private def manifestIn(table: String, conf: Configuration): Option[Manifest] =
    versionOf(table, conf).map { v =>
      val m = hp(table, "manifests", manifestName(v))
      parseManifest(v, readUtf8(fsOf(m, conf), m))
    }

  /** The manifest a PAST commit published. Only versions at or below the
    * published pointer are readable: a crash between manifest write and
    * pointer swing leaves an orphaned FUTURE manifest on disk, and that
    * snapshot was never committed. Works until [[vacuum]] reclaims the
    * version. */
  def manifestOf(table: String, version: Long): Manifest =
    manifestOf(table, version, hconf())

  private def manifestOf(table: String, version: Long, conf: Configuration): Manifest = {
    val cur = versionOf(table, conf)
    require(cur.exists(_ >= version),
      s"version $version was never published (current: ${cur.getOrElse(-1L)}) — " +
        "orphaned future manifests from crashed commits are not readable")
    val text = readIfExists(hp(table, "manifests", manifestName(version)), conf)
    require(text.isDefined, s"version $version not found (vacuumed?)")
    parseManifest(version, text.get)
  }

  /** Resolve a manifest dir entry to a readable path. Entries written
    * by a table's own commits are RELATIVE ("data/<uuid>"); a
    * [[cloneShallow]] target's first manifest references the source's
    * dirs ABSOLUTELY (path- or scheme-qualified), and those resolve
    * as-is. Dir entries stay opaque strings everywhere else, so the
    * two kinds coexist in one manifest as a clone diverges. */
  private def resolveDir(table: String, d: String): String =
    if (d.startsWith("/") || d.contains(":/")) d else s"$table/$d"

  /** The batch-id HIGH-WATER MARK of the live snapshot. Lives INSIDE
    * the manifest, so it becomes durable in the same atomic pointer
    * swing as the data it describes — there is no window where data is
    * committed but its batch id is not. Every commit carries it forward
    * as `max(previous mark, this commit's id)`: commits that land out
    * of id order (two identified appenders racing) and maintenance
    * rewrites that pass a stale id can never REGRESS it — a regressed
    * mark would make an already-committed batch's replay re-append
    * (duplicates), the exactly-once hole the monotone max closes. */
  def lastBatchId(table: String): Option[Long] =
    manifest(table).flatMap(_.batch)

  /** [[lastBatchId]] for a named WRITER CHANNEL — the Delta
    * transaction-appId analogue. Batch ids are only comparable within
    * ONE issuer's monotone sequence (a checkpointed streaming query, a
    * retrying job): with several INDEPENDENT appenders on one table, a
    * shared mark makes writer B's id 4 silently skip writer A's
    * not-yet-committed id 2 (lost batch) or lets A's replay slip past a
    * mark B regressed (duplicate). Each channel keeps its own monotone
    * mark in the manifest (`# wmark <writer> <id>` lines, carried
    * forward by every commit — appends AND maintenance rewrites), so
    * replay idempotence is judged against the issuer's own history
    * only. `writer = ""` is the default shared channel (`# batch`). */
  def lastBatchId(table: String, writer: String): Option[Long] =
    manifest(table).flatMap(_.mark(writer))

  /** The published snapshot's schema, recorded in the manifest at commit
    * time — schema enforcement and every reader take one small manifest
    * line instead of listing the table and merging parquet footers.
    * Tables written before schema lines existed fall back to a
    * merged-footer read. */
  def liveSchema(spark: SparkSession, table: String): Option[StructType] =
    manifest(table).map(schemaOf(spark, table, _))

  private def schemaOf(spark: SparkSession, table: String, m: Manifest): StructType =
    m.schema.getOrElse(relation(spark, table, m, m.dirs).schema)

  /** The one landed-snapshot reader: `dirs` (all of `m`'s, or a subset a
    * rewrite plans) read at the schema `m` records. The recorded schema
    * is already the merged one — live columns in order, then explicitly
    * evolved additions — so every column surfaces whichever dir a path
    * listing puts first, older rows read null in evolved columns, and
    * creating the DataFrame runs no Spark job and opens no footer. A
    * manifest written before schema lines existed falls back to
    * merged-footer inference: the only place footers are read for a
    * schema. */
  private[land] def relation(spark: SparkSession, table: String, m: Manifest,
      dirs: Seq[String]): DataFrame = {
    val paths = dirs.map(d => resolveDir(table, d))
    m.schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }
  }

  /** Read the current snapshot — only ever sees fully-committed data,
    * at the schema its manifest records (columns added by evolved
    * appends surface as nulls in older rows). */
  def read(spark: SparkSession, table: String): DataFrame = {
    val m = snapshotOf(table, hconf())
    relation(spark, table, m, m.dirs)
  }

  /** The live manifest of a table that has a committed snapshot. */
  private def snapshotOf(table: String, conf: Configuration): Manifest = {
    val m = manifestIn(table, conf)
    require(m.exists(_.dirs.nonEmpty), s"no committed snapshot at $table")
    m.get
  }

  /** Time travel: read the snapshot a PAST commit published, at the
    * schema that commit recorded. Works until [[vacuum]] reclaims the
    * superseded manifests/data (the same retention trade Delta's VACUUM
    * makes); same reachability rule as [[manifestOf]]. */
  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame = {
    val m = manifestOf(table, version)
    relation(spark, table, m, m.dirs)
  }

  /** The data dirs a committed version references (relative to `table`)
    * — the manifest-level delta primitive [[ChangeFeed]] diffs to serve
    * incremental reads. Same reachability rule as [[readVersion]]: only
    * versions at or below the published pointer exist. */
  def dirsOfVersion(table: String, version: Long): Seq[String] =
    manifestOf(table, version).dirs

  /** [[dirsOfVersion]] resolved to ABSOLUTE paths, in manifest order
    * (body first, newest append last) — for bounded maintenance probes
    * that read a FEW dirs of a snapshot directly (a drift detector
    * sampling the newest appends) instead of the whole version. */
  def dirPathsOfVersion(table: String, version: Long): Seq[String] =
    dirsOfVersion(table, version).map(d => resolveDir(table, d))

  /** UTF-8 byte-order <= — the same unsigned order parquet BINARY
    * stats and Spark's UTF8String comparisons use, so driver-side
    * range overlap tests agree with the recorded string ranges. */
  private def utf8Lte(a: String, b: String): Boolean = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length <= y.length
  }

  /** The live data dirs a `key` in [lo, hi] can possibly live in,
    * from the manifest's "# range" lines alone — no footer is opened.
    * Dirs without a recorded range for `key` are conservatively
    * included. The planning surface of [[readPruned]], exposed so
    * callers (and gates) can observe how many dirs a scan will touch. */
  def planPrunedDirs(table: String, key: String, lo: Any, hi: Any): Seq[String] =
    manifest(table).toSeq.flatMap(prunedDirs(_, key, lo, hi))

  private def prunedDirs(m: Manifest, key: String, lo: Any, hi: Any): Seq[String] = {
    def overlaps(r: KeyRange): Boolean = r match {
      case ("long", dlo, dhi) =>
        // a probe that can't parse as Long proves nothing about the
        // dir — include it conservatively (prunePlan's statless-dir
        // posture) rather than fail the whole read
        try {
          val l = lo.toString.toLong; val h = hi.toString.toLong
          dlo.toLong <= h && l <= dhi.toLong
        } catch { case _: NumberFormatException => true }
      case ("string", dlo, dhi) =>
        utf8Lte(dlo, hi.toString) && utf8Lte(lo.toString, dhi)
      case (other, _, _) =>
        throw new IllegalArgumentException(s"unknown range type '$other'")
    }
    m.dirs.filter(d => m.ranges.get((d, key)).forall(overlaps))
  }

  /** Manifest-pruned range read: the snapshot filtered to
    * `key BETWEEN lo AND hi`, scanning ONLY the data dirs whose
    * recorded range can intersect the interval — whole dirs are
    * skipped from one small manifest read BEFORE any parquet footer
    * opens. On a range-clustered 100 TB table a narrow-key read costs
    * one dir of N instead of N footer probes; correctness never
    * depends on the pruning (the filter still applies to every
    * surviving row, and rangeless dirs are conservatively scanned),
    * so the result is row-identical to `read().filter(between)`. */
  def readPruned(spark: SparkSession, table: String, key: String,
      lo: Any, hi: Any): DataFrame = {
    val m = snapshotOf(table, hconf())
    val kept = prunedDirs(m, key, lo, hi)
    val body =
      if (kept.isEmpty) relation(spark, table, m, m.dirs).limit(0)
      else relation(spark, table, m, kept)
    body.filter(col(key).between(lit(lo), lit(hi)))
  }

  /** SHALLOW CLONE (Delta's CREATE TABLE ... SHALLOW CLONE): publish
    * `target` as a new table whose first manifest references `source`'s
    * live data dirs ABSOLUTELY — O(metadata), no data copied, no Spark
    * job. The clone then diverges freely and independently: its appends
    * and rewrites land under its own `data/`, its version history and
    * [[vacuum]] are its own, and every snapshot rewrite (merge /
    * compact / [[deletePruned]]) progressively replaces the absolute
    * references with local dirs ([[compact]] localizes the whole table
    * in one pass). Range lines and the schema line carry over (re-keyed
    * to the absolute names), so manifest-only pruned planning works on
    * the clone from its first version. The streaming batch watermark
    * does NOT carry: a clone is a new sink, and inheriting the source's
    * watermark would make a fresh checkpointed stream silently skip its
    * early batches.
    *
    * Unlike Delta's shallow clone, the source IS told: the clone
    * registers itself in a `clones/` sidecar at EVERY table whose dirs
    * its first manifest references absolutely (its direct source, and —
    * for a clone of a clone — the original root tables those absolute
    * refs still point at). [[vacuum]] on a source consults its registry
    * and SPARES any data dir a live clone's manifests still reference,
    * so "clone, then compact+vacuum the source" can no longer tear the
    * clone's snapshot out from under it: any vacuum that BEGINS after
    * the registration lands sees the pins, and a vacuum that completed
    * inside the creation window (after the source-manifest read, before
    * the registration) is caught by the post-registration existence
    * fence below, which re-snapshots the moved-on source and retries
    * before the clone ever becomes readable. A registration whose clone
    * has vanished entirely (no pointer, no manifests) is unregistered
    * by the next vacuum — self-healing, so dropped clones don't pin
    * source garbage forever. */
  def cloneShallow(source: String, target: String): Long = {
    val conf = hconf()
    require(versionOf(source, conf).isDefined,
      s"no committed snapshot at $source")
    require(versionOf(target, conf).isEmpty,
      s"refusing to clone onto existing table $target")
    val absRoot =
      if (source.startsWith("/") || source.contains(":/")) source
      else fsOf(hp(source), conf).makeQualified(hp(source)).toString
    def absolutize(d: String): String =
      if (d.startsWith("/") || d.contains(":/")) d else s"$absRoot/$d"
    def snapshotLines(): Seq[String] = manifestIn(source, conf).toSeq.flatMap(_.lines).flatMap {
      case l if l.startsWith("# batch ") => None
      case l if l.startsWith("# wmark ") => None // fresh sink: no channel carries
      case l if l.startsWith("# range ") =>
        l.stripPrefix("# range ").trim.split(" ") match {
          case Array(d, k, t, lo, hi) =>
            Some(s"# range ${enc(absolutize(dec(d)))} $k $t $lo $hi")
          case _ => Some(l)
        }
      case l if l.startsWith("#") => Some(l)
      case d => Some(absolutize(d))
    }
    val fs = fsOf(hp(target), conf)
    val m0 = hp(target, "manifests", manifestName(0L))
    var lines = snapshotLines()
    require(reserveManifest(fs, m0, lines.mkString("\n")),
      s"$target version 0 is already reserved — another writer is racing the clone")
    cloneAfterReserve() // test seam: the creation window, maximally open
    // register the clone at every table its manifest references
    // absolutely BEFORE the pointer swing makes it readable: a crash
    // in between leaves a registration for a clone with no manifests,
    // which the next source vacuum unregisters (never the reverse
    // window, where a readable clone is invisible to vacuum)
    val targetAbs =
      if (target.startsWith("/") || target.contains(":/")) target
      else fs.makeQualified(hp(target)).toString
    def register(ls: Seq[String]): Unit = ls.filterNot(_.startsWith("#"))
      .flatMap { d =>
        val i = d.lastIndexOf("/data/")
        if (i > 0) Some(d.substring(0, i)) else None
      }.distinct.foreach { srcRoot =>
        val reg = hp(srcRoot, ClonesDir, enc(targetAbs))
        val rfs = fsOf(reg, conf)
        val out = rfs.create(reg, true)
        try out.write(targetAbs.getBytes(StandardCharsets.UTF_8))
        finally out.close()
      }
    register(lines)
    // CREATION-WINDOW fence: a source compact+vacuum that ran between
    // the manifest read above and the registration write could have
    // reclaimed dirs this clone references (the registry did not yet
    // contain it). Now that the registration and the m-0 manifest are
    // durable — any vacuum STARTING from here reads both and spares the
    // dirs — re-verify every referenced dir and, on a loss, re-snapshot
    // the (moved-on) source into our still-unpublished m-0 and retry.
    def missingDir(ls: Seq[String]): Option[String] =
      ls.filterNot(_.startsWith("#")).find { d =>
        val p = hp(d); !fsOf(p, conf).exists(p)
      }
    var attempts = 0
    while (missingDir(lines).isDefined) {
      attempts += 1
      require(attempts <= 5,
        s"clone of $source lost ${missingDir(lines).get} to concurrent " +
          "vacuums 5 times in a row — stop the maintenance loop and retry")
      lines = snapshotLines()
      // we own the m-0 reservation and the pointer has not swung, so
      // no reader can observe this rewrite
      val out = fs.create(m0, true)
      try out.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
      register(lines)
    }
    PointerStore.forPointer(fs, conf, hp(target, Pointer))
      .publish(manifestName(0L))
    0L
  }

  private val ClonesDir = "clones"

  /** Test seam: runs inside [[cloneShallow]] after the m-0 reservation
    * (source manifest already read) and BEFORE the registration write —
    * the creation window whose loss the post-registration existence
    * fence re-verifies. Production value is a no-op. */
  private[land] var cloneAfterReserve: () => Unit = () => ()

  /** The registered live clones of `table` (absolute paths) — written
    * by [[cloneShallow]], consulted and self-healed by [[vacuum]]. */
  private[land] def registeredClones(table: String): Seq[String] = {
    val d = hp(table, ClonesDir)
    val fs = fsOf(d, hconf())
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.map(s => readUtf8(fs, s.getPath).trim)
  }

  /** Upsert (MERGE-by-key): rows of `updates` replace current rows with
    * the same `key`; unmatched keys are inserts. Snapshot-rewrite
    * semantics — the new version contains (current ANTI-JOIN updates)
    * UNION updates, published with the usual atomic swing. At 100 TB
    * per-partition rewrite with pruning (Delta's file-level MERGE) is
    * the refinement; the commit protocol is identical. */
  def merge(updates: DataFrame, table: String, key: String,
      allowMissingColumns: Boolean = false): Long = {
    val spark = updates.sparkSession
    val conf = hconf()
    val m = snapshotOf(table, conf)
    val live = relation(spark, table, m, m.dirs)
    // an updates frame missing a live column would silently rewrite
    // every matched row with NULL there (unionByName pads) — refuse
    // unless the caller explicitly asks for that
    if (!allowMissingColumns) {
      val missing = live.columns.toSet -- updates.columns.toSet
      require(missing.isEmpty,
        s"merge updates are missing live column(s) ${missing.mkString(", ")} — " +
          "matched rows would be rewritten with NULLs there; pass " +
          "allowMissingColumns = true to do that deliberately")
    }
    val merged = live
      .join(updates.select(key), Seq(key), "left_anti")
      .unionByName(updates, allowMissingColumns = true)
    // safe to read-while-writing: the staging write scans the OLD data
    // dirs, which stay on disk until a later vacuum — publishing only
    // swings the pointer. expectedVersion fails the publish if a
    // concurrent commit landed after our snapshot read (the rewrite
    // would erase it otherwise).
    commitCore(merged, table, conf, expectedVersion = Some(m.version))._1
  }

  /** A dir's key range as recorded in (or derived for) the manifest:
    * `typ` ∈ {"long", "string"}, bounds serialized as strings. String
    * bounds order by UNSIGNED UTF-8 byte comparison — parquet's binary
    * stats order AND Spark's UTF8String comparison, so a string BETWEEN
    * evaluated by Spark agrees with the footer-derived bounds (a Java
    * String.compareTo would not: UTF-16 code-unit order diverges from
    * code-point order beyond the BMP). */
  private[land] type KeyRange = (String, String, String)

  /** Dirs of a pruning plan, each with its key range when one is known. */
  private type DirPlan = Seq[(String, Option[KeyRange])]

  /** Per-parquet-file footer reads performed by merge PLANNING (the
    * manifest-fallback path). Test seam: a spec asserts this stays flat
    * when every live dir carries a manifest range line — the claim that
    * planning is manifest-only on an upgraded table. Commit-time stats
    * for a freshly-written dir do NOT count (bounded by the new dir,
    * amortized once per commit — not the O(live files) planning loop
    * this counter guards). */
  private[land] val planningFooterFiles =
    new java.util.concurrent.atomic.AtomicLong

  /** Parquet-footer [min, max] of an INT32/INT64/BINARY(string) key
    * column over every data file in `dir` — the same bounded metadata
    * I/O as [[graft.ext.Zorder.statsPrune]]. FALLBACK path only on
    * upgraded tables: committed dirs carry their range in the manifest
    * ("# range" lines) and planning never lists files. None when the
    * dir holds no non-null stats for the column, or the column's
    * physical type has no supported comparator (conservative rewrite).
    * Like Spark's reader it skips every file under a name that starts
    * with `_` or `.`, so it never opens an uncommitted task attempt's
    * file or a checksum sidecar.
    */
  private[land] def footerKeyRange(spark: SparkSession, dir: String,
      key: String, planning: Boolean): Option[KeyRange] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.PrimitiveComparator
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(dir).getFileSystem(conf)
    val root = fs.makeQualified(new HPath(dir))
    val it = fs.listFiles(root, true)
    var loL = Long.MaxValue
    var hiL = Long.MinValue
    var loB: Binary = null
    var hiB: Binary = null
    val cmpB = PrimitiveComparator.UNSIGNED_LEXICOGRAPHICAL_BINARY_COMPARATOR
    var typ: String = null
    def hidden(p: HPath): Boolean =
      p.getName.startsWith("_") || p.getName.startsWith(".")
    while (it.hasNext) {
      val st = it.next()
      val visible = !Iterator.iterate(st.getPath)(_.getParent)
        .takeWhile(_.depth > root.depth).exists(hidden)
      if (visible && st.getPath.getName.endsWith(".parquet")) {
        if (planning) planningFooterFiles.incrementAndGet()
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        try r.getFooter.getBlocks.asScala.foreach { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == key).foreach { c =>
            val s = c.getStatistics
            // hasNonNullValue: an all-null row group has isEmpty == false
            // (numNulls is set) with min/max UNINITIALIZED — reading them
            // would widen the range to include the type default (0)
            if (s != null && !s.isEmpty && s.hasNonNullValue) {
              c.getPrimitiveType.getPrimitiveTypeName match {
                case INT64 =>
                  typ = "long"
                  loL = math.min(loL, s.genericGetMin.asInstanceOf[java.lang.Long].longValue)
                  hiL = math.max(hiL, s.genericGetMax.asInstanceOf[java.lang.Long].longValue)
                case INT32 =>
                  typ = "long"
                  loL = math.min(loL, s.genericGetMin.asInstanceOf[java.lang.Integer].longValue)
                  hiL = math.max(hiL, s.genericGetMax.asInstanceOf[java.lang.Integer].longValue)
                case BINARY =>
                  typ = "string"
                  val mn = s.genericGetMin.asInstanceOf[Binary]
                  val mx = s.genericGetMax.asInstanceOf[Binary]
                  if (loB == null || cmpB.compare(mn, loB) < 0) loB = mn
                  if (hiB == null || cmpB.compare(mx, hiB) > 0) hiB = mx
                case _ => () // unsupported physical type: no range
              }
            }
          }
        } finally r.close()
      }
    }
    typ match {
      case "long" if loL <= hiL => Some(("long", loL.toString, hiL.toString))
      case "string" if loB != null =>
        Some(("string", loB.toStringUsingUTF8, hiB.toStringUsingUTF8))
      case _ => None
    }
  }

  /** The BETWEEN predicate a recorded range implies for `key` — typed
    * so long keys compare numerically and string keys by Spark's
    * UTF8String (unsigned byte) order, matching the footer comparator
    * the bounds came from. */
  private def rangeCond(key: String, r: KeyRange): org.apache.spark.sql.Column =
    r match {
      case ("long", lo, hi) => col(key).between(lit(lo.toLong), lit(hi.toLong))
      case ("string", lo, hi) => col(key).between(lit(lo), lit(hi))
      case (other, _, _) =>
        throw new IllegalArgumentException(s"unknown range type '$other'")
    }

  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  private def rangeLine(d: String, k: String, r: KeyRange): String =
    s"# range ${enc(d)} ${enc(k)} ${r._1} ${enc(r._2)} ${enc(r._3)}"

  /** (dir, key) -> range, from the live manifest's "# range" lines —
    * the manifest-only planning surface [[mergePruned]] reads. */
  private[land] def liveRanges(table: String): Map[(String, String), KeyRange] =
    liveRanges(table, hconf())

  private def liveRanges(table: String, conf: Configuration)
      : Map[(String, String), KeyRange] =
    manifestIn(table, conf).fold(Map.empty[(String, String), KeyRange])(_.ranges)

  /** File-level MERGE — the 100-TB refinement [[merge]]'s scaladoc
    * names: rewrite ONLY the live data dirs whose footer key range
    * holds at least one update key, and carry every other dir untouched
    * through `keepDirs`. The result is row-identical to [[merge]] (the
    * anti-join runs over exactly the dirs that can contain matches; a
    * range-pruned dir provably holds none), but the rewrite cost tracks
    * the TOUCHED data, not the table — on a range-clustered layout
    * (streaming appends, z-ordered compactions) a narrow-key update
    * rewrites one dir of N.
    *
    * Touched-dir detection is one aggregation over `updates` with a
    * per-dir BETWEEN flag (|dirs| flags — manifest-bounded), never a
    * collected key set: exact with respect to ranges, conservative when
    * a dir's range covers an update key the dir doesn't actually hold
    * (rewriting it anyway is wasteful, never wrong). A dir with no
    * recorded or derivable range for the key is conservatively treated
    * as touched. Long (INT32/INT64) AND string (BINARY) keys are
    * supported; other key types fall back to conservative rewrite.
    *
    * Planning is MANIFEST-ONLY on an upgraded table: per-dir key
    * ranges live in the manifest as "# range" lines, written at commit
    * time (one bounded footer pass over the dir just written) and
    * carried forward thereafter, so the merge planner reads ONE small
    * manifest instead of running an O(live files) driver-side footer
    * listing per merge — at 10^5 files that listing is minutes of
    * serial driver I/O before planning even starts. Pre-upgrade dirs
    * (committed before range lines existed) fall back to the footer
    * scan ONCE: this merge records their ranges in the manifest it
    * publishes, so the next merge is manifest-only (asserted via
    * [[planningFooterFiles]] in AtomicLandingSpec).
    *
    * CONCURRENT APPENDS no longer kill the rewrite when they provably
    * can't interact with it: a dir appended while the merge was staging
    * whose recorded key range holds no update key is carried forward
    * (commit's rebaseAppends seam) — both commits survive and the
    * result is identical to running them serially. Appends that DO
    * overlap the update keys (or carry no range line, or any concurrent
    * rewrite) still fail the publish for the caller to retry. */
  def mergePruned(updates: DataFrame, table: String, key: String,
      allowMissingColumns: Boolean = false,
      beforeCommit: () => Unit = () => ()): Long = {
    // beforeCommit is a test seam (commit.beforePublish's sibling): it
    // runs after planning reads the snapshot and before the commit —
    // exactly the window a concurrent append can land in, which is what
    // the rebase specs need to stage deterministically
    val spark = updates.sparkSession
    val conf = hconf()
    // one manifest plans the whole rewrite: schema, ranges and dirs
    val live = manifestIn(table, conf)
    if (!allowMissingColumns) {
      val liveCols = live.map(schemaOf(spark, table, _).fieldNames.toSet)
        .getOrElse(Set.empty)
      val missing = liveCols -- updates.columns.toSet
      require(missing.isEmpty,
        s"merge updates are missing live column(s) ${missing.mkString(", ")} — " +
          "matched rows would be rewritten with NULLs there; pass " +
          "allowMissingColumns = true to do that deliberately")
    }
    // manifest-first planning; footer listing only for pre-upgrade dirs
    val (touched, kept) =
      live.fold[(DirPlan, DirPlan)]((Nil, Nil))(prunePlan(updates, table, _, key))
    val touchedData: Option[DataFrame] = touched.map(_._1) match {
      case Nil => None
      case ds => Some(relation(spark, table, live.get, ds))
    }
    val merged = touchedData match {
      case Some(t) => t.join(updates.select(key), Seq(key), "left_anti")
        .unionByName(updates, allowMissingColumns = true)
      case None => updates
    }
    // kept dirs' ranges (just read — from the manifest or the one-time
    // footer fallback) ride into the new manifest via knownRanges, so a
    // pre-upgrade table is fully range-lined after its first merge
    val known = kept.collect { case (d, Some(r)) => (d, key) -> r }.toMap
    // no pinned batchId: the watermark is carried fresh from the live
    // manifest at reservation time, so a rebase over a concurrent
    // STREAMING append keeps the append's newer batch id (a stale pinned
    // id would let the engine double-commit the replayed batch)
    beforeCommit()
    commitCore(merged, table, conf, keepDirs = kept.map(_._1),
      expectedVersion = live.map(_.version), statsKeys = Seq(key),
      knownRanges = known, rebaseAppends = rebaseDisjoint(updates, table, key, conf))._1
  }

  /** Manifest-first pruning plan for a keyed snapshot rewrite: every
    * live dir's recorded `key` range (one footer pass only for
    * pre-upgrade dirs), partitioned into dirs a probe key CAN live in
    * (range hit — or no range at all, which rewrites conservatively)
    * and dirs provably untouched. ONE aggregate over `probe` computes
    * every dir's flag. Shared by [[mergePruned]] and [[deletePruned]]. */
  private def prunePlan(probe: DataFrame, table: String, m: Manifest,
      key: String): (DirPlan, DirPlan) = {
    val spark = probe.sparkSession
    val ranges = m.dirs.map { d =>
      d -> m.ranges.get((d, key))
        .orElse(footerKeyRange(spark, resolveDir(table, d), key, planning = true))
    }
    val flagged = ranges.zipWithIndex.collect {
      case ((_, Some(r)), i) =>
        i -> max(when(rangeCond(key, r), 1).otherwise(0)).as(s"_t$i")
    }
    val hit: Map[Int, Boolean] =
      if (flagged.isEmpty) Map.empty
      else {
        val row = probe.agg(flagged.head._2, flagged.tail.map(_._2): _*).head()
        flagged.map(_._1).zipWithIndex
          .map { case (dirIdx, c) => dirIdx -> (!row.isNullAt(c) && row.getInt(c) == 1) }
          .toMap
      }
    val (touched, kept) = ranges.zipWithIndex.partition {
      case ((_, None), _) => true // statless dir: conservatively rewrite
      case ((_, Some(_)), i) => hit.getOrElse(i, false)
    }
    (touched.map(_._1), kept.map(_._1))
  }

  /** Concurrent-append rebase predicate (commit's rebaseAppends seam):
    * a commit that landed while a keyed rewrite was running fails the
    * publish ONLY if it could interact with the rewrite. A
    * concurrently-appended dir whose recorded key range holds NO probe
    * key provably contains no row the rewrite would have touched —
    * carrying it forward verbatim is row-identical to serializing the
    * append after the rewrite, so the rewrite survives instead of
    * being retried from scratch. The test is one agg over `probe` with
    * a per-extra-dir BETWEEN flag (the same shape as touched-dir
    * planning), reading ranges from the CURRENT manifest — the
    * "# range" lines the append itself maintained. A rangeless extra
    * dir, or one whose range covers a probe key, refuses the rebase
    * (conservative: fail as before). */
  private def rebaseDisjoint(probe: DataFrame, table: String,
      key: String, conf: Configuration): Seq[String] => Boolean = { extras =>
    val rec = liveRanges(table, conf)
    val extRanges = extras.map(d => rec.get((d, key)))
    extRanges.forall(_.isDefined) && {
      val flags = extRanges.flatten.zipWithIndex.map { case (r, i) =>
        max(when(rangeCond(key, r), 1).otherwise(0)).as(s"_x$i")
      }
      flags.isEmpty || {
        val row = probe.agg(flags.head, flags.tail: _*).head()
        flags.indices.forall(c => row.isNullAt(c) || row.getInt(c) == 0)
      }
    }
  }

  /** Row-level DELETE by key with file pruning — the
    * right-to-be-forgotten primitive at 100 TB: rows of `table` whose
    * `key` appears in `deleteKeys` vanish in one atomic snapshot, and
    * only data dirs whose recorded key range can hold a delete key are
    * rewritten ([[mergePruned]]'s manifest-first planning) — the rest
    * of the table is carried verbatim, so cost scales with the
    * AFFECTED files, never the table. Returns the published version;
    * when no live dir can hold any delete key the delete is a provable
    * no-op and publishes nothing (the current version returns).
    *
    * Concurrency: the rewrite CASes on the planned snapshot
    * (`expectedVersion`); a concurrent append whose recorded range
    * holds no delete key rides the rebase; anything else fails the
    * publish and the caller retries against the fresh snapshot.
    * Deletion is logical-then-physical: superseded dirs hold the
    * deleted bytes until [[vacuum]] reclaims them — time travel to a
    * pre-delete version still serves them, so a compliance hard-delete
    * is deletePruned + vacuum, the same retention trade Delta's
    * DELETE + VACUUM makes. */
  def deletePruned(deleteKeys: DataFrame, table: String, key: String,
      beforeCommit: () => Unit = () => ()): Long = {
    val spark = deleteKeys.sparkSession
    val conf = hconf()
    val m = snapshotOf(table, conf)
    val keys = deleteKeys.select(col(key))
    val (touched, kept) = prunePlan(keys, table, m, key)
    if (touched.isEmpty) return m.version
    val remaining = relation(spark, table, m, touched.map(_._1))
      .join(keys, Seq(key), "left_anti")
    // an all-rows-deleted rewrite still needs a schema-bearing footer:
    // zero partitions would write no part file and break later reads
    val body = if (remaining.isEmpty) remaining.repartition(1) else remaining
    val known = kept.collect { case (d, Some(r)) => (d, key) -> r }.toMap
    beforeCommit()
    commitCore(body, table, conf, keepDirs = kept.map(_._1),
      expectedVersion = Some(m.version), statsKeys = Seq(key),
      knownRanges = known, rebaseAppends = rebaseDisjoint(keys, table, key, conf))._1
  }

  /** Write `df` and publish atomically; returns the committed version.
    * `append = true` keeps the previous snapshot's data dirs in the new
    * manifest (streaming micro-batches); `append = false` replaces the
    * table. `beforePublish` is a test seam: it runs after data is
    * staged/moved but before the pointer swings — exactly where a crash
    * must not lose the previous snapshot.
    *
    * The exactly-once batch-id watermark is carried forward from the
    * live manifest unless the caller pins one: a merge/compact/overwrite
    * between a crash and the replay of the last unacknowledged
    * micro-batch must not erase the watermark, or the replay would
    * double-commit. (Re-pointing a table at a brand-new checkpointed
    * stream therefore needs a fresh table path — batch ids restart at 0
    * per checkpoint.)
    *
    * Concurrent writers are safe: version allocation is the exclusive
    * manifest create (see the object doc), a losing appender waits for
    * the winner to publish and rebuilds its manifest on the published
    * snapshot, and a slot poisoned by a dead writer fails the commit
    * after `maxConflictWaitMs` with a message naming [[vacuum]] as the
    * cure. The slow part (staging the data) happens BEFORE allocation,
    * so the contended window is just manifest-write + pointer swing.
    *
    * SNAPSHOT REWRITES (`expectedVersion = Some(e)`) overtaken by a
    * concurrent commit fail with ConcurrentModificationException —
    * UNLESS every intervening commit was a pure append (no dir of
    * snapshot `e` removed) AND `rebaseAppends(extras)` returns true for
    * the concurrently-added dirs, in which case the rewrite REBASES:
    * the extra dirs are carried into the published manifest verbatim
    * (with their range lines and the LIVE batch watermark). The
    * predicate is the caller's proof obligation that the appended rows
    * cannot interact with the rewrite — [[mergePruned]] proves
    * key-range disjointness from its update keys; the default never
    * rebases.
    *
    * PER-DIR KEY RANGES ("# range" manifest lines — [[mergePruned]]'s
    * manifest-only planning surface): `statsKeys` names key columns
    * whose [min, max] should be recorded for the NEWLY-written dir (one
    * footer pass over just that dir). Independently, any key that the
    * live manifest ALREADY tracks is maintained automatically — an
    * append to an upgraded table keeps every dir's range line current
    * with no caller opt-in, so streaming appends never decay the
    * upgrade. Carried dirs keep their recorded lines; `knownRanges`
    * ((dir, key) -> (typ, lo, hi)) lets a caller that just derived a
    * kept dir's range (mergePruned's footer fallback) persist it
    * without a second footer pass. */
  def commit(df: DataFrame, table: String, append: Boolean = false,
      beforePublish: () => Unit = () => (),
      batchId: Option[Long] = None,
      maxConflictWaitMs: Long = 30000L,
      keepDirs: Seq[String] = Nil,
      evolveSchema: Boolean = false,
      expectedVersion: Option[Long] = None,
      statsKeys: Seq[String] = Nil,
      knownRanges: Map[(String, String), (String, String, String)] = Map.empty,
      rebaseAppends: Seq[String] => Boolean = _ => false,
      writer: String = "",
      extraMarks: Map[String, Long] = Map.empty): Long =
    commitCore(df, table, hconf(), append, beforePublish, batchId, maxConflictWaitMs,
      keepDirs, evolveSchema, expectedVersion, statsKeys, knownRanges,
      rebaseAppends, writer, extraMarks)._1

  /** The fully-nullable rendering of a type — the append retype check
    * compares against it to accept nullability NARROWING only: incoming
    * == deepNullable(incoming) rendered over the live type means the
    * live column is the relaxed version of what arrives. */
  private def deepNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(deepNullable(et), containsNull = true)
    case org.apache.spark.sql.types.MapType(kt, vt, _) =>
      org.apache.spark.sql.types.MapType(
        deepNullable(kt), deepNullable(vt), valueContainsNull = true)
    case org.apache.spark.sql.types.StructType(fields) =>
      org.apache.spark.sql.types.StructType(fields.map(f =>
        f.copy(dataType = deepNullable(f.dataType), nullable = true)))
    case other => other
  }

  /** Steps (1) and (2): write `df` into `staging` (already made) and
    * require its completion mark. A plan that optimizes to a
    * [[LocalRelation]] holds its rows on the driver already (a
    * `createDataFrame(Seq...)` run record, an empty batch), so the driver
    * writes them itself through the output writer Spark's write tasks
    * use — the same codec, schema conversion and footer metadata, with
    * no Spark job. There the mark is `close()` returning: a failed write
    * or close throws before the dir is moved. Every other plan runs one
    * write job whose tasks write straight into `staging` under
    * [[StagingCommitProtocol]]; its mark is `FileFormatWriter.write`
    * returning after every partition's authorized task commit. */
  private def stage(df: DataFrame, staging: HPath, conf: Configuration): Unit = {
    val spark = df.sparkSession
    val id = staging.getName
    df.queryExecution.optimizedPlan match {
      case r: LocalRelation if !r.isStreaming =>
        val format = new ParquetFileFormat
        // the type check FileFormatWriter.write makes on the job path
        DataSourceUtils.verifySchema(format, r.schema)
        val job = Job.getInstance(conf)
        val factory = format.prepareWrite(spark, job, Map.empty, r.schema)
        val ctx = new TaskAttemptContextImpl(job.getConfiguration,
          new TaskAttemptID(new TaskID(new JobID(id, 0), TaskType.MAP, 0), 0))
        val file = new HPath(staging, s"part-00000-$id-c000${factory.getFileExtension(ctx)}")
        val writer = factory.newInstance(file.toString, r.schema, ctx)
        try r.data.foreach(writer.write) finally writer.close()
      case _ =>
        val qe = df.queryExecution
        val session = qe.sparkSession
        SQLExecution.withNewExecutionId(qe, Some("stage")) {
          FileFormatWriter.write(session, qe.executedPlan, new ParquetFileFormat,
            new StagingCommitProtocol(id, staging.toString),
            FileFormatWriter.OutputSpec(staging.toString, Map.empty, qe.analyzed.output),
            conf, partitionColumns = Nil, bucketSpec = None, statsTrackers = Nil,
            options = Map.empty)
        }
    }
  }

  /** The schema checks `df.write` makes before its writer runs and
    * `FileFormatWriter.write` does not — a duplicate column name and an
    * empty (or nested empty) schema — raising the same errors. */
  private def checkWritable(schema: StructType, caseSensitive: Boolean): Unit = {
    schema.fieldNames.groupBy(n => if (caseSensitive) n else n.toLowerCase)
      .collectFirst { case (n, ns) if ns.length > 1 =>
        throw new AnalysisException("COLUMN_ALREADY_EXISTS",
          Map("columnName" -> s"`${n.replace("`", "``")}`"))
      }
    def empty(s: StructType): Boolean = s.isEmpty ||
      s.exists(f => f.dataType match { case st: StructType => empty(st); case _ => false })
    if (empty(schema))
      throw new AnalysisException("EMPTY_SCHEMA_NOT_SUPPORTED_FOR_DATASOURCE",
        Map("format" -> "Parquet"))
  }

  /** [[commit]] plus the manifest-relative name of the dir this commit
    * wrote — what [[compactSmallFrom]] needs to tell its fold output
    * apart from concurrently-appended dirs that rode the rebase. */
  private def commitCore(df: DataFrame, table: String, conf: Configuration,
      append: Boolean = false,
      beforePublish: () => Unit = () => (),
      batchId: Option[Long] = None,
      maxConflictWaitMs: Long = 30000L,
      keepDirs: Seq[String] = Nil,
      evolveSchema: Boolean = false,
      expectedVersion: Option[Long] = None,
      statsKeys: Seq[String] = Nil,
      knownRanges: Map[(String, String), (String, String, String)] = Map.empty,
      rebaseAppends: Seq[String] => Boolean = _ => false,
      writer: String = "",
      extraMarks: Map[String, Long] = Map.empty): (Long, String) = {
    val fs = fsOf(hp(table), conf)

    // schema enforcement (Delta's rule): an append may never silently
    // drop or retype a live column; ADDING columns is explicit
    // (evolveSchema), and readers see them through the schema line.
    // The live schema comes from the manifest's schema line — covering
    // EVERY live column including previously-evolved ones, with no
    // footer listing per micro-batch. Recomputed on every reservation
    // attempt from that attempt's one manifest parse: a losing writer
    // rebases onto a snapshot whose schema a concurrent evolveSchema
    // append may have just changed, so a stale pre-loop schema would
    // silently drop the evolved column from the manifest it records.
    // `carried` = concurrently-appended dirs riding a rebase: their
    // rows may carry a column evolveSchema added AFTER the rewrite's
    // base snapshot, and the LIVE manifest's schema line (not the base
    // df's schema) is the only record of it — recording the base schema
    // would drop the evolved column, making every later append fail
    // enforcement while the data silently drifts from the schema line.
    def enforcedSchema(live: Option[Manifest], carried: Seq[String]): StructType = {
      val liveSch: Option[StructType] =
        if (append || keepDirs.nonEmpty || carried.nonEmpty)
          live.map(schemaOf(df.sparkSession, table, _)) else None
      if (append) liveSch.foreach { live =>
        live.foreach { f =>
          val inc = df.schema.find(_.name == f.name).getOrElse(
            throw new IllegalArgumentException(
              s"append drops live column '${f.name}' — appends must carry every live column"))
          // nullability NARROWING is safe (non-null rows into a live
          // nullable column — the shape every post-fold append hits,
          // because a fold's parquet read-back relaxes containsNull/
          // nullable while fresh computations stay strict); WIDENING
          // stays an error (nulls the recorded schema denies)
          require(inc.dataType == f.dataType
              || deepNullable(inc.dataType) == f.dataType,
            s"append retypes live column '${f.name}': ${f.dataType} -> ${inc.dataType}")
        }
        val extras = df.schema.map(_.name).toSet -- live.map(_.name).toSet
        require(extras.isEmpty || evolveSchema,
          s"append adds columns [${extras.mkString(", ")}] — pass " +
            "evolveSchema = true to record them (readers then see them, " +
            "null in older rows)")
      }
      // the schema the NEW manifest records: live columns (in order) plus
      // any explicitly-evolved additions; overwrite takes df's schema
      liveSch match {
        case Some(sch) => StructType(
          sch.fields ++ df.schema.fields.filterNot(f => sch.fieldNames.contains(f.name)))
        case None => df.schema
      }
    }

    // the staging dir is made once, before either writer runs: neither
    // writer makes a dir of its own
    checkWritable(df.schema, df.sparkSession.sessionState.conf.caseSensitiveAnalysis)
    val staging = hp(table, ".staging", UUID.randomUUID().toString)
    mkdirs(fs, staging)
    stage(df, staging, conf)

    val dirName = staging.getName
    val dataDir = hp(table, "data", dirName)
    mkdirs(fs, dataDir.getParent)
    require(fs.rename(staging, dataDir), s"rename $staging -> $dataDir failed")

    mkdirs(fs, hp(table, "manifests"))
    // the new dir's key ranges: one footer pass per key over the dir
    // just staged (bounded by THIS commit's output, not the table) —
    // cached across reservation attempts, the dir is immutable
    val newDirRangeCache =
      scala.collection.mutable.Map.empty[String, Option[KeyRange]]
    def newDirRange(k: String): Option[KeyRange] =
      newDirRangeCache.getOrElseUpdate(k,
        footerKeyRange(df.sparkSession, dataDir.toString, k, planning = false))
    // ONE pointer + manifest read per reservation attempt: the live
    // dirs, range lines, marks and schema the attempt carries all come
    // from `live`, and `live` is always the manifest of version next - 1
    var live = manifestIn(table, conf)
    var next = live.fold(0L)(_.version + 1L)
    var waitedMs = 0L
    var reserved = false
    while (!reserved) {
      // rebuilt per attempt: a lost race means the snapshot we append to
      // (and the batch watermark, schema, and range lines we carry) just
      // changed under us
      //
      // snapshot-conflict handling for whole-snapshot rewrites (merge /
      // compact): those callers computed `df` from version E, and if a
      // concurrent commit won a version in between, publishing the
      // rewrite blindly would silently erase that commit's rows. Checked
      // HERE, before each reservation attempt, because the reservation
      // invariant (a successful create of m-next pins the published
      // version at next-1 until we publish) is exactly what makes the
      // resolution stable: once we hold the slot, the dirs we decided on
      // cannot change under us. Resolution: if every intervening commit
      // was a PURE APPEND (no dir of snapshot E was removed) and the
      // caller's `rebaseAppends` predicate accepts the appended dirs as
      // non-interacting (mergePruned proves key-range disjointness from
      // its update keys), the rewrite REBASES — the new dirs ride into
      // our manifest verbatim, row-identical to serializing the appends
      // after the rewrite. Otherwise detect-and-fail (Delta's non-append
      // conflict rule): the caller retries from the fresh snapshot; the
      // staged dir becomes vacuum-able garbage.
      val carried: Seq[String] = expectedVersion match {
        case Some(e) if next != e + 1L =>
          val curDirs = live.toSeq.flatMap(_.dirs)
          val eDirs = manifestOf(table, e, conf).dirs
          val removed = eDirs.filterNot(curDirs.toSet)
          val extras = curDirs.filterNot(eDirs.toSet)
          if (removed.nonEmpty || !rebaseAppends(extras))
            throw new java.util.ConcurrentModificationException(
              s"$table moved to version ${next - 1} while rewriting snapshot $e — " +
                "a concurrent commit landed" + (
                if (removed.nonEmpty)
                  s" and removed dir(s) ${removed.mkString(", ")} of the rewritten snapshot"
                else " whose dir(s) may interact with the rewrite") +
                "; retry the rewrite from the current snapshot")
          extras
        case _ => Nil
      }
      val dirs = (if (append) live.toSeq.flatMap(_.dirs) else keepDirs ++ carried) :+
        s"data/$dirName"
      val recorded = live.fold(Map.empty[(String, String), KeyRange])(_.ranges)
      val rangeKeys = (statsKeys ++ recorded.keysIterator.map(_._2)).distinct
      val rangeLs = for {
        d <- dirs
        k <- rangeKeys
        r <- recorded.get((d, k)).orElse(knownRanges.get((d, k)))
          .orElse(if (d == s"data/$dirName") newDirRange(k) else None)
      } yield rangeLine(d, k, r)
      // watermark lines are MONOTONE, per channel: the default `# batch`
      // mark is max(this commit's id, live mark) — never regressed by an
      // out-of-id-order commit or a maintenance rewrite passing a stale
      // id; named `# wmark` channels all carry forward (a rewrite must
      // not erase any writer's replay history), with this commit's
      // channel folded in by max
      val defaultMark =
        (if (writer.isEmpty) batchId.toSeq else Nil) ++ live.flatMap(_.batch).toSeq
      val marks0 = live.fold(Map.empty[String, Long])(_.marks)
      val marks1 =
        if (writer.isEmpty || batchId.isEmpty) marks0
        else marks0.updated(writer,
          marks0.get(writer).fold(batchId.get)(math.max(_, batchId.get)))
      // extraMarks: additional channel stamps riding THIS commit's
      // atomic manifest swing (e.g. a rebuild's generation mark) —
      // same monotone-max discipline as the primary channel
      val marks = extraMarks.foldLeft(marks1) { case (m, (w, b)) =>
        m.updated(w, m.get(w).fold(b)(math.max(_, b)))
      }
      val lines = defaultMark.maxOption.map(b => s"# batch $b").toSeq ++
        marks.toSeq.sortBy(_._1).map { case (w, b) => s"# wmark ${enc(w)} $b" } ++
        Seq(s"# schema ${enforcedSchema(live, carried).json}") ++ rangeLs ++ dirs
      reserved = reserveManifest(fs,
        hp(table, "manifests", manifestName(next)), lines.mkString("\n"))
      if (!reserved) {
        // a lease-less protocol cannot distinguish a dead holder from a
        // slow one — after the bounded wait we fail OUR commit (the
        // staged dir becomes vacuum-able garbage) and leave the verdict
        // to the operator: retry with a longer wait if the holder may
        // still be alive, vacuum() only once no writer can be in flight
        require(waitedMs < maxConflictWaitMs,
          s"version $next of $table has been reserved by another writer for " +
            s">${maxConflictWaitMs}ms — either a commit is still in flight " +
            "(retry with a longer maxConflictWaitMs) or its writer died " +
            "(vacuum() reclaims the orphaned slot once no writer is active)")
        Thread.sleep(25); waitedMs += 25
        live = manifestIn(table, conf)
        live.foreach(m => if (m.version >= next) next = m.version + 1L)
      }
    }

    try {
      beforePublish()
      // the pointer swing goes through the PointerStore seam: rename-based
      // on POSIX/HDFS, direct-PUT on object stores without atomic rename
      PointerStore.forPointer(fs, conf, hp(table, Pointer))
        .publish(manifestName(next))
    } catch {
      case t: Throwable =>
        // an in-JVM failure releases its slot reservation so later
        // commits don't block on it; a hard-killed process cannot —
        // that poisoned slot is what vacuum() heals
        try fs.delete(hp(table, "manifests", manifestName(next)), false)
        catch { case _: Throwable => () }
        throw t
    }
    (next, s"data/$dirName")
  }

  /** Streaming sink body: commit every micro-batch as an atomic append
    * (use with `writeStream.foreachBatch(AtomicLanding.streamSink(t))`).
    * Readers polling the table between batches always see a complete
    * prefix of the stream, never a half-written batch.
    *
    * EXACTLY-ONCE: foreachBatch is at-least-once — after a crash the
    * engine replays the last unacknowledged batch — so the sink skips
    * any batchId at or below the one recorded in the live manifest
    * (batch ids are monotonically increasing per checkpointed query,
    * and only the most recent batch is ever replayed). */
  def streamSink(table: String): (DataFrame, Long) => Unit =
    streamSink(table, "")

  /** [[streamSink]] pinned to a NAMED writer channel: when several
    * checkpointed queries append to ONE table, each must judge replays
    * against its OWN monotone id sequence (batch ids are not comparable
    * across issuers — the shared default mark would silently skip a
    * slower writer's never-committed batch). One sink per query, each
    * with a distinct `writer`, is the multi-writer exactly-once
    * topology. */
  def streamSink(table: String, writer: String): (DataFrame, Long) => Unit =
    (df, batchId) =>
      if (!lastBatchId(table, writer).exists(_ >= batchId)) {
        commit(df, table, append = true, batchId = Some(batchId),
          writer = writer); ()
      }

  /** Data dirs in the live snapshot — the maintenance trigger metric: a
    * long-appending stream grows this by one per micro-batch. */
  def liveDirCount(table: String): Int = manifest(table).fold(0)(_.dirs.size)

  /** Superseded (unreachable but unreclaimed) manifests — the OTHER
    * maintenance trigger: an overwrite-per-run table keeps liveDirCount
    * at 1 forever while old snapshots pile up on disk until vacuumed. */
  def supersededCount(table: String): Int = {
    val conf = hconf()
    val dir = hp(table, "manifests")
    val fs = fsOf(dir, conf)
    val current = versionOf(table, conf).map(manifestName)
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir).count(s => !current.contains(s.getPath.getName))
  }

  /** Compaction — the answer to the streaming small-file problem: every
    * appended micro-batch adds a data dir, and a long-running stream
    * leaves thousands of small files that tax every subsequent scan.
    * Rewrites the CURRENT snapshot into one fresh data dir (optionally
    * coalesced to `numFiles`) and publishes it with the usual atomic
    * swing; concurrent readers keep whichever manifest they already
    * resolved — the old dirs stay on disk until [[vacuum]]. The batch-id
    * watermark carries over so a replayed micro-batch is still skipped
    * after compaction (carried FRESH from the live manifest at publish
    * time, so a concurrent append's newer watermark wins).
    *
    * CONCURRENT APPENDS REBASE instead of failing the compaction: a dir
    * appended while the rewrite was staging is untouched data by
    * definition — carrying it forward verbatim is row-identical to
    * serializing the append after the compaction, and `rebaseAppends =
    * always` is therefore sound with NO disjointness proof needed
    * (unlike [[mergePruned]], which must show the appended rows escape
    * the rewrite's key predicate). Without the rebase a busy streaming
    * table could starve its own maintenance forever: some micro-batch
    * always lands during the fold. A concurrent REWRITE (merge /
    * another compaction) still fails the publish — dirs of the expected
    * snapshot went missing, and both sides rewrote the same rows. */
  def compact(spark: SparkSession, table: String,
      numFiles: Int = 0,
      beforeCommit: () => Unit = () => ()): Long = {
    // the recorded schema: a schema-evolved table has columns that live
    // only in newer data dirs, and a rewrite that dropped them would
    // make the loss permanent once vacuum() deletes the original dirs
    val conf = hconf()
    val m = snapshotOf(table, conf)
    val df0 = relation(spark, table, m, m.dirs)
    val df = if (numFiles > 0) df0.coalesce(numFiles) else df0
    beforeCommit()
    commitCore(df, table, conf, expectedVersion = Some(m.version),
      rebaseAppends = _ => true)._1
  }

  /** Bin-packing compaction: rewrite ONLY the data dirs at or below
    * `smallBytes` into one merged dir and keep every large dir untouched
    * in the new manifest. This is the shape that survives 100 TB: a
    * year-old streaming table is a few huge compacted dirs plus a tail
    * of small recent micro-batches, and folding the tail must not
    * rewrite the body. No-op (returns the current version) when fewer
    * than two dirs qualify. Safe alongside concurrent APPENDERS — a
    * micro-batch landing during the fold rides into the published
    * manifest via the rebase seam (see [[compact]]'s scaladoc for the
    * soundness argument; the appended dir just joins the small-file
    * tail the NEXT fold collects); concurrent rewrites still fail the
    * publish. */
  def compactSmall(spark: SparkSession, table: String, smallBytes: Long,
      numFiles: Int = 1,
      beforeCommit: () => Unit = () => (),
      extraMarks: Map[String, Long] = Map.empty): Long =
    compactSmallFrom(spark, table, smallBytes, numFiles,
      beforeCommit = beforeCommit, extraMarks = extraMarks).version

  /** What a [[compactSmallFrom]] run did: the published (or unchanged)
    * version, and — ONLY when a fold actually committed — the
    * manifest-relative name of the merged output dir. Derived-state
    * maintainers (BM25's df fold) need both: `foldDir.isEmpty` means no
    * restamp is due even if `version` advanced (a concurrent append
    * moved the pointer, not this compaction), and when a fold did
    * commit, every OTHER new dir in the published manifest is a
    * concurrent append that rode the rebase and still owes its delta. */
  final case class SmallCompaction(version: Long, foldDir: Option[String])

  /** [[compactSmall]] with an explicit base: the small-dir tail is
    * partitioned over `dirsOfVersion(expectedBase)` — the exact snapshot
    * the caller's derived state covers — never over a live listing that
    * a concurrent append may have just grown. A dir appended after
    * `expectedBase` therefore can NEVER be folded into the output (it
    * rides the commit's rebase verbatim instead), which is what makes
    * the returned accounting exact: fold output rows == the folded base
    * dirs' rows, carried dirs == exactly the appends still owing their
    * derived delta. Throws ConcurrentModificationException when the
    * table moved past `expectedBase` before the fold was even planned
    * (the caller re-syncs and retries) or when a concurrent REWRITE
    * landed during the fold; concurrent APPENDS rebase as before. */
  /** `transform` (when provided) replaces the default `coalesce
    * (numFiles)` as the fold's physical shaping pass — the seam layout
    * maintainers use to re-sort the folded tail ([[graft.ext.Zorder
    * .maintainZordered]]: re-key + range-repartition + sort-within,
    * restoring footer locality the unordered appends decayed). It MUST
    * be row-preserving and schema-preserving: the fold's accounting
    * contract (output rows == folded dirs' rows, carried dirs exact)
    * and the append-time schema enforcement both run over its output. */
  def compactSmallFrom(spark: SparkSession, table: String, smallBytes: Long,
      numFiles: Int = 1,
      expectedBase: Option[Long] = None,
      beforeCommit: () => Unit = () => (),
      transform: Option[DataFrame => DataFrame] = None,
      extraMarks: Map[String, Long] = Map.empty): SmallCompaction = {
    val conf = hconf()
    val fs = fsOf(hp(table), conf)
    val m = manifestIn(table, conf).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $table"))
    val base = m.version
    expectedBase.foreach { e =>
      if (e != base) throw new java.util.ConcurrentModificationException(
        s"$table is at version $base, not the expected $e — re-sync and retry")
    }
    val (small, big) = m.dirs.partition { d =>
      fs.getContentSummary(new HPath(resolveDir(table, d))).getLength <= smallBytes
    }
    if (small.size < 2) SmallCompaction(base, None)
    else {
      // the recorded schema for the same reason as compact(): an evolved
      // column present in only some of the small dirs must survive the fold
      val merged0 = relation(spark, table, m, small)
      val merged = transform.map(_(merged0))
        .getOrElse(merged0.coalesce(numFiles))
      beforeCommit()
      val (v, newDir) = commitCore(merged, table, conf, keepDirs = big,
        expectedVersion = Some(base), rebaseAppends = _ => true,
        extraMarks = extraMarks)
      SmallCompaction(v, Some(newDir))
    }
  }

  /** Remove everything no reader can reach: all staging dirs (committed
    * ones were MOVED out, so anything left is an aborted write), data
    * dirs absent from the live manifest, and superseded manifests —
    * including orphaned FUTURE manifests, which is how a slot poisoned
    * by a hard-killed writer is healed. Returns paths removed.
    *
    * `futureGraceMs = 0` (operator-invoked healing) reclaims everything
    * and must run with no writers in flight: a live reservation is
    * indistinguishable from a poisoned one. A POSITIVE grace makes
    * vacuum safe to run alongside writers — a FUTURE manifest (version
    * above the pointer) younger than the grace is a concurrent writer's
    * live per-version lock and is preserved, unreferenced data dirs get
    * the same age grace (a writer moves staging -> data/ BEFORE
    * reserving its slot), and `.staging` is not touched at all (its
    * mtime moves only when a file is created or renamed in it, so NO age
    * bound can distinguish a long-running write from an abandoned one). Auto-maintenance in the
    * ingestion commit path uses this mode.
    *
    * `retainVersions = N` keeps a TIME-TRAVEL window: the last N
    * superseded manifests (versions `cur-N .. cur-1`) and every data
    * dir they reference survive the vacuum, so [[readVersion]] and
    * [[graft.land.ChangeFeed]] keep working over the retained window
    * while everything older reclaims — Delta's retention-period trade
    * expressed in versions (deterministic and testable) rather than
    * wall-clock hours. */
  def vacuum(table: String, futureGraceMs: Long = 0L,
      retainVersions: Int = 0): Seq[String] =
    vacuum(table, futureGraceMs, retainVersions, hconf())

  private def vacuum(table: String, futureGraceMs: Long, retainVersions: Int,
      conf: Configuration): Seq[String] = {
    val fs = fsOf(hp(table), conf)
    val cur = versionOf(table, conf)
    val current = cur.map(manifestName)
    val now = System.currentTimeMillis()
    def young(s: org.apache.hadoop.fs.FileStatus): Boolean =
      futureGraceMs > 0 && now - s.getModificationTime < futureGraceMs
    // A young FUTURE manifest is a concurrent writer's live per-version
    // lock: it AND the data dirs it references must survive.
    def isLiveReservation(s: org.apache.hadoop.fs.FileStatus): Boolean = {
      val v = s.getPath.getName.stripPrefix("m-")
      young(s) && v.forall(_.isDigit) && cur.forall(_ < v.toLong)
    }
    def isRetained(s: org.apache.hadoop.fs.FileStatus): Boolean = {
      val v = s.getPath.getName.stripPrefix("m-")
      retainVersions > 0 && v.forall(_.isDigit) &&
        cur.exists(c => v.toLong >= c - retainVersions && v.toLong < c)
    }
    val mDir = hp(table, "manifests")
    val manifests: Seq[org.apache.hadoop.fs.FileStatus] =
      if (fs.exists(mDir)) fs.listStatus(mDir).toSeq else Nil
    val (keptManifests, doomedManifests) = manifests.partition(s =>
      current.contains(s.getPath.getName) || isLiveReservation(s) ||
        isRetained(s))
    def parseRefs(text: String): Seq[String] =
      text.split("\n").toSeq.map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.stripPrefix("data/"))
    def referenced(ms: Seq[org.apache.hadoop.fs.FileStatus]): Set[String] =
      ms.flatMap(s => parseRefs(readUtf8(fs, s.getPath))).toSet
    // a DOOMED manifest may vanish mid-read when two vacuums race (both
    // writers' auto-maintenance can run concurrently) — the peer that
    // deleted it also handled its data dirs, so treat missing as empty.
    // Kept manifests stay strict: losing the CURRENT manifest mid-read
    // must fail loudly, never silently unreference live data.
    def referencedLenient(ms: Seq[org.apache.hadoop.fs.FileStatus]): Set[String] =
      ms.flatMap { s =>
        try parseRefs(readUtf8(fs, s.getPath))
        catch { case _: java.io.FileNotFoundException => Nil }
      }.toSet
    // ---- clone-aware sparing: a dir any LIVE clone's manifests still
    // reference absolutely is not garbage here, whatever this table's
    // own manifests say. ALL of the clone's manifests count (its
    // retained history can time-travel into the reference); a clone
    // that localized (compacted) and vacuumed simply stops referencing
    // us and its pins lapse. A registration whose clone has vanished
    // entirely (no pointer, no manifests) is unregistered, age-gated
    // by the grace window so a clone mid-creation is never dropped.
    val qualDataPrefix = {
      val dp = hp(table, "data")
      fsOf(dp, conf).makeQualified(dp).toString + "/"
    }
    val clonesReg = hp(table, ClonesDir)
    val cloneKeep: Set[String] =
      (if (!fs.exists(clonesReg)) Nil
       else fs.listStatus(clonesReg).toSeq).flatMap { reg =>
        val clone = readUtf8(fs, reg.getPath).trim
        val cfs = fsOf(hp(clone), conf)
        val mDirC = hp(clone, "manifests")
        val live = cfs.exists(hp(clone, Pointer)) || cfs.exists(mDirC)
        if (!live) {
          if (futureGraceMs == 0L ||
              now - reg.getModificationTime >= futureGraceMs)
            fs.delete(reg.getPath, false)
          Nil
        } else if (!cfs.exists(mDirC)) Nil
        else cfs.listStatus(mDirC).toSeq.flatMap { m =>
          val refs = try readUtf8(cfs, m.getPath).split("\n").toSeq
            .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
          catch { case _: java.io.FileNotFoundException => Nil }
          refs.filter(r => r.startsWith("/") || r.contains(":/"))
            .map(r => cfs.makeQualified(hp(r)).toString)
            .filter(_.startsWith(qualDataPrefix))
            .map(_.stripPrefix(qualDataPrefix))
        }
      }.toSet
    val keep = referenced(keptManifests) ++ cloneKeep
    val everReferenced = keep ++ referencedLenient(doomedManifests)
    // Data-dir doom rules: referenced by a kept manifest -> keep;
    // referenced only by doomed manifests -> superseded garbage, any age;
    // referenced by NOTHING -> aborted-commit garbage unless young (a
    // live writer moves staging -> data/ BEFORE reserving its slot).
    def doomedData(s: org.apache.hadoop.fs.FileStatus): Boolean = {
      val n = s.getPath.getName
      !keep.contains(n) && (everReferenced.contains(n) || !young(s))
    }
    // .staging is reclaimed ONLY by full (grace = 0, writers-stopped)
    // vacuum: a staging dir's mtime moves only when a task attempt
    // creates or renames a file in it, so a task writing one large file
    // leaves it untouched for as long as it writes — any write longer
    // than the grace would be deleted MID-WRITE by concurrent
    // auto-maintenance if age-gated
    val doomed = Seq(
      hp(table, ".staging") -> ((_: org.apache.hadoop.fs.FileStatus) =>
        futureGraceMs == 0L),
      hp(table, "data") -> (doomedData _),
      hp(table, "manifests") -> ((s: org.apache.hadoop.fs.FileStatus) =>
        doomedManifests.exists(_.getPath == s.getPath)))
    doomed.flatMap { case (dir, cond) =>
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq
        .filter(cond).map { s =>
          fs.delete(s.getPath, true); s.getPath.toString
        }
    }
  }

  // ---------------------------------------------------------------------
  // Linked-table root: ONE pointer naming a consistent version per member
  // table.
  //
  // Every persisted index in the engine is a SET of tables that must
  // publish together: BM25 is postings + derived df/stats, IVF is
  // centroids + inverted lists, IVF-PQ is four quantizer/code/norm parts.
  // Committing the parts through their own pointers leaves two torn
  // states no single-table protocol can exclude: a reader that resolves
  // part A's NEW generation and part B's OLD one (silent wrong answers —
  // centroids from one training run scoring codes from another), and a
  // crash between the part commits that makes the mix DURABLE. The root
  // closes both: member tables commit first (each returned version is a
  // generation id; until the root swings they are unreachable staging,
  // not data), then one root manifest pinning every member's version
  // publishes through the same reserve-slot + pointer-swing protocol as
  // a table commit. Readers resolve the root once and read every member
  // AT ITS PINNED VERSION — either all-old or all-new, never a mix, no
  // matter what lands concurrently.
  //
  // Optimistic concurrency composes the same way as table commits: the
  // exclusive create of root slot r-(v+1) serializes publishers, and
  // `expectedRoot` turns the swing into a CAS — a maintainer that folded
  // derived state from root generation v publishes with
  // expectedRoot = Some(v) and FAILS (ConcurrentModificationException)
  // if another writer advanced the root first, so two concurrent
  // folders can never both apply their delta onto the same base (the
  // lost-update/double-fold race a batchId handshake alone cannot
  // exclude). Member-version monotonicity is the caller's contract:
  // members only ever advance, so a retried publisher re-reads the root
  // and recomputes its delta window from the winner's pins.
  //
  // At 100 TB the root costs nothing per query: it is one small text
  // file naming a handful of versions — no Spark job, no data pass —
  // and it makes index maintenance (compaction, df folds, retrains)
  // publishable in O(metadata) regardless of corpus size.
  // ---------------------------------------------------------------------

  private val RootPointer = "_ROOT"

  private def rootName(v: Long): String = f"r-$v%010d"

  /** A resolved root generation: every member table's pinned version. */
  final case class LinkedSnapshot(rootVersion: Long, members: Map[String, Long])

  /** The published root generation, if any publish ever completed. */
  def currentRootVersion(root: String): Option[Long] = rootVersionOf(root, hconf())

  private def rootVersionOf(root: String, conf: Configuration): Option[Long] =
    readIfExists(hp(root, RootPointer), conf).map(_.trim.stripPrefix("r-").toLong)

  /** Resolve the live root generation to its member pins — ONE read;
    * every member then reads via [[readVersion]] at its pin, so the
    * whole multi-table index is snapshot-isolated against concurrent
    * publishes. */
  def linkedSnapshot(root: String): Option[LinkedSnapshot] =
    linkedSnapshot(root, hconf())

  private def linkedSnapshot(root: String, conf: Configuration): Option[LinkedSnapshot] =
    rootVersionOf(root, conf).flatMap(linkedSnapshotAt(root, _, conf))

  /** Resolve a SPECIFIC root generation — the index-level time travel
    * [[readVersion]] gives tables. Retained generations (see
    * [[vacuumLinked]]'s `retainRoots`) stay resolvable after
    * maintenance; reclaimed ones return None. */
  def linkedSnapshotAt(root: String, v: Long): Option[LinkedSnapshot] =
    linkedSnapshotAt(root, v, hconf())

  private def linkedSnapshotAt(root: String, v: Long,
      conf: Configuration): Option[LinkedSnapshot] =
    readIfExists(hp(root, "roots", rootName(v)), conf).map(text => LinkedSnapshot(v,
      text.split("\n").toSeq
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          val i = l.lastIndexOf(' ')
          l.substring(0, i) -> l.substring(i + 1).toLong
        }.toMap))

  /** Publish a consistent member-version set as the next root
    * generation. Members must already be committed [[AtomicLanding]]
    * tables under `root/<member>` — this writes ONLY the root manifest
    * and swings ONLY the root pointer (no data moves). `expectedRoot =
    * Some(v)` is the CAS: the publish fails with
    * ConcurrentModificationException unless this generation directly
    * succeeds `v` — the caller recomputes from the fresh snapshot and
    * retries. A crash before the swing leaves the previous generation
    * live and the reserved slot as vacuumable garbage ([[vacuumLinked]]
    * heals it, grace-protected for live publishers). `beforePublish`
    * is the test seam between reservation and the pointer swing.
    *
    * WRITER CARDINALITY: the conflict path polls a reserved slot at
    * 25 ms up to `maxConflictWaitMs` — sized for a HANDFUL of
    * concurrent publishers (one streaming appender + one maintainer is
    * the design point; each publish is O(metadata), so slots clear in
    * milliseconds). Hundreds of writers contending on one root would
    * serialize here by design — the root is a single linearization
    * point, which is exactly what makes readers torn-proof. Shard the
    * INDEX (separate roots), not the root, if writer fan-in ever needs
    * to scale. */
  def publishLinked(root: String, members: Map[String, Long],
      expectedRoot: Option[Long] = None,
      beforePublish: () => Unit = () => (),
      maxConflictWaitMs: Long = 30000L): Long = {
    require(members.nonEmpty, "a linked root needs at least one member")
    members.keys.foreach(m => require(
      m.nonEmpty && !m.exists(c => c == '\n' || c == '\r'),
      s"bad member name '$m'"))
    val conf = hconf()
    val fs = fsOf(hp(root), conf)
    var next = rootVersionOf(root, conf).getOrElse(-1L) + 1L
    var waitedMs = 0L
    var reserved = false
    while (!reserved) {
      expectedRoot.foreach { e =>
        if (next != e + 1L) throw new java.util.ConcurrentModificationException(
          s"$root moved to generation ${next - 1} while this publisher worked " +
            s"from generation $e — recompute from the live snapshot and retry")
      }
      val lines = members.toSeq.sortBy(_._1).map { case (m, v) => s"$m $v" }
      reserved = reserveManifest(fs,
        hp(root, "roots", rootName(next)), lines.mkString("\n"))
      if (!reserved) {
        require(waitedMs < maxConflictWaitMs,
          s"root generation $next of $root has been reserved by another " +
            s"publisher for >${maxConflictWaitMs}ms — a publish is in flight " +
            "or its writer died (vacuumLinked() reclaims the orphaned slot)")
        Thread.sleep(25); waitedMs += 25
        rootVersionOf(root, conf).foreach(cv => if (cv >= next) next = cv + 1L)
      }
    }
    try {
      beforePublish()
      PointerStore.forPointer(fs, conf, hp(root, RootPointer))
        .publish(rootName(next))
    } catch {
      case t: Throwable =>
        try fs.delete(hp(root, "roots", rootName(next)), false)
        catch { case _: Throwable => () }
        throw t
    }
    next
  }

  /** Read one member at the version the live root pins. */
  def readLinkedMember(spark: SparkSession, root: String,
      member: String): DataFrame = {
    val conf = hconf()
    val snap = linkedSnapshot(root, conf).getOrElse(
      throw new IllegalStateException(s"no published root at $root"))
    val table = s"$root/$member"
    val m = manifestOf(table,
      snap.members.getOrElse(member,
        throw new IllegalArgumentException(
          s"root $root pins no member '$member' (has ${snap.members.keys.mkString(", ")})")),
      conf)
    relation(spark, table, m, m.dirs)
  }

  /** Reclaim superseded root generations and superseded member
    * generations. `retainRoots = N` keeps a ROOT-LEVEL time-travel
    * window (the [[vacuum]] `retainVersions` contract lifted to the
    * whole index): the last N root generations before the live one
    * stay resolvable via [[linkedSnapshotAt]], and every member keeps
    * a version window wide enough to cover its OLDEST retained pin —
    * so a probe at a retained generation still reads every member at
    * its pinned version, bit-identically, after maintenance has
    * published newer generations on top. Everything older reclaims.
    *
    * Member vacuums derive their window from the retained pins: with
    * `retainRoots = 0` a member is vacuumed only when its own pointer
    * sits exactly at the live root's pin (the quiescence guard — a
    * member that ran AHEAD via a crashed publish still needs its
    * pinned manifest); with retention, a member whose live pointer ran
    * ahead is covered by widening the window down to the oldest pin.
    * A positive grace makes this safe alongside live publishers (their
    * reserved future root slots survive, same rule as [[vacuum]]). */
  def vacuumLinked(root: String, futureGraceMs: Long = 0L,
      retainRoots: Int = 0): Seq[String] = {
    val conf = hconf()
    val fs = fsOf(hp(root), conf)
    val cur = rootVersionOf(root, conf)
    val now = System.currentTimeMillis()
    def retained(name: String): Boolean = {
      val v = name.stripPrefix("r-")
      retainRoots > 0 && v.forall(_.isDigit) &&
        cur.exists(c => v.toLong >= c - retainRoots && v.toLong < c)
    }
    val dir = hp(root, "roots")
    val roots: Seq[org.apache.hadoop.fs.FileStatus] =
      if (fs.exists(dir)) fs.listStatus(dir).toSeq else Nil
    val removedRoots = roots.filterNot { s =>
      val v = s.getPath.getName.stripPrefix("r-")
      cur.map(rootName).contains(s.getPath.getName) ||
        retained(s.getPath.getName) ||
        (futureGraceMs > 0 && now - s.getModificationTime < futureGraceMs &&
          v.forall(_.isDigit) && cur.forall(_ < v.toLong))
    }.map { s => fs.delete(s.getPath, false); s.getPath.toString }
    // every member's OLDEST pin across the live + retained generations
    // sets that member's retention window
    val snaps = cur.toSeq.flatMap { c =>
      (math.max(0L, c - retainRoots) to c)
        .flatMap(linkedSnapshotAt(root, _, conf))
    }
    val oldestPin: Map[String, Long] = snaps.flatMap(_.members.toSeq)
      .groupBy(_._1).map { case (m, vs) => m -> vs.map(_._2).min }
    val liveMembers = linkedSnapshot(root, conf).toSeq.flatMap(_.members.keys)
    val removedMembers = liveMembers.flatMap { m =>
      val t = s"$root/$m"
      (versionOf(t, conf), oldestPin.get(m)) match {
        case (Some(live), Some(oldest)) if live >= oldest =>
          // the contiguous window [live - retain, live] covers every
          // retained pin; with retainRoots = 0 this degenerates to the
          // old quiescence guard (vacuum only when live == pin)
          val window = (live - oldest).toInt
          if (retainRoots == 0 && window > 0) Nil
          else vacuum(t, futureGraceMs, window, conf)
        case _ => Nil
      }
    }
    removedRoots ++ removedMembers
  }
}
