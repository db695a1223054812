package graft.files

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}

/** File-pattern ingestion: relay opaque objects between zones.
  *
  * Re-expression of the reference's boto3 copy/move/list
  * (`/root/reference/ingestion/utils/dataIngestionUtils.py:196-232`) on the
  * Hadoop FileSystem API, so the same code runs against `s3a://`, `hdfs://`
  * and `file://` (hermetic tests — SURVEY §5.4). Objects stay opaque blobs;
  * no DataFrame job is launched for a byte relay.
  */
class FileRelay(conf: Configuration = new Configuration()) {

  private def fs(p: Path): FileSystem = p.getFileSystem(conf)

  /** List objects under a prefix (S4) —
    * `bucket.objects.filter(Prefix=...)` (`dataIngestionUtils.py:204`).
    * Overridable: the test suite injects a late-arriving object right
    * after a listing to pin the one-listing rule (an object is archived
    * only by the run that listed, and so landed, it). */
  def list(prefix: String): Seq[Path] = {
    val p = new Path(prefix)
    val f = fs(p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toIndexedSeq.filter(_.isFile).map(_.getPath)
  }

  /** Cross-zone copy (S5) — `dataIngestionUtils.py:196-213`: every object
    * under `srcPrefix` lands under `destPrefix`, names preserved. Returns
    * (source, destination) pairs for the copied set: the one listing a
    * caller archives with [[moveExact]]. */
  def copyPairs(srcPrefix: String, destPrefix: String): Seq[(Path, Path)] = {
    val destDir = new Path(destPrefix)
    val dfs = fs(destDir)
    dfs.mkdirs(destDir)
    list(srcPrefix).map { src =>
      val dest = new Path(destDir, src.getName)
      FileUtil.copy(fs(src), src, dfs, dest, false, true, conf)
      src -> dest
    }
  }

  def copyAll(srcPrefix: String, destPrefix: String): Seq[Path] =
    copyPairs(srcPrefix, destPrefix).map(_._2)

  /** Move (S6) — `dataIngestionUtils.py:215-232`: archive every object
    * listed under `srcPrefix` to the processed prefix, by
    * [[moveExact]] over that one listing. An object that lands after
    * the listing stays for the next run. A caller that lands objects
    * before archiving them must archive its own listing with
    * [[moveExact]] instead: a second listing here would archive an
    * object that arrived in between without ever landing it. */
  def moveAll(srcPrefix: String, destPrefix: String): Seq[Path] =
    moveExact(list(srcPrefix), destPrefix)

  /** Archive EXACTLY the given objects — the listing is the CALLER's,
    * captured before whatever work the archive concludes, so an object
    * arriving under the same prefix after that snapshot is never swept
    * in ([[moveAll]]'s no-fresh-listing rule, pushed all the way to the
    * caller: a transactional ingest lists once, lands exactly that set,
    * and archives exactly that set). Each object moves by a rename
    * within its file system — one metadata operation, a server-side
    * copy on S3A like the reference's `copy_object` — and falls back to
    * copy (overwrite) + delete across file systems or when the rename
    * is refused (say, by a destination left from a crashed attempt). A
    * source already absent is skipped, so a retried partial move
    * converges. */
  def moveExact(paths: Seq[Path], destPrefix: String): Seq[Path] = {
    val destDir = new Path(destPrefix)
    val dfs = fs(destDir)
    dfs.mkdirs(destDir)
    paths.filter(p => fs(p).exists(p)).map { src =>
      val dest = new Path(destDir, src.getName)
      val sfs = fs(src)
      if (sfs.getUri != dfs.getUri || !sfs.rename(src, dest)) {
        FileUtil.copy(sfs, src, dfs, dest, false, true, conf)
        sfs.delete(src, false)
      }
      dest
    }
  }

  def readUtf8(p: Path): String = {
    val in = fs(p).open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Write (overwrite) `p`. On the local file system through NIO, where
    * Hadoop's checksummed create forks `chmod` for the file and its
    * `.crc`; a sidecar left by an earlier Hadoop write is deleted first,
    * as it would fail a checksummed read of the new bytes. */
  def writeUtf8(p: Path, body: String): Unit = {
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val f = fs(p)
    graft.land.AtomicLanding.localPath(f, p) match {
      case Some(l) =>
        Files.createDirectories(l.getParent)
        Files.deleteIfExists(graft.land.AtomicLanding.crcSidecar(l))
        Files.write(l, bytes)
      case None =>
        val out = f.create(p, true)
        try out.write(bytes) finally out.close()
    }
  }
}
