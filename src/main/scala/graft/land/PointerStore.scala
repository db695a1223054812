package graft.land

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}

/** The pointer-commit seam of [[AtomicLanding]].
  *
  * Atomically replacing the one small `_CURRENT` pointer object is the
  * ONLY primitive the commit protocol needs from a store — data dirs and
  * manifests are immutable and never overwritten, so reader isolation
  * never depends on directory-rename atomicity. Stores differ in how
  * they provide that replace:
  *
  *   - POSIX / HDFS: write a temp file next to the pointer and rename
  *     over it ([[PointerStore.Rename]] — local `rename(2)` through NIO,
  *     HDFS `FileContext.rename(OVERWRITE)`).
  *   - Object stores WITHOUT atomic rename (S3 and friends, where
  *     "rename" is a non-atomic copy loop and an overwriting rename
  *     does not exist at all): a whole-object PUT of the pointer key is
  *     already atomic — readers observe the old object or the new one,
  *     never a torn write — so the swing is a direct conditional-put
  *     style write, no rename anywhere ([[PointerStore.Put]]).
  *
  * The reference lands everything on exactly such a store
  * (`/root/reference/ingestion/dataIngestionUtils.py:117-118,196-232` —
  * its raw zone is S3), which is why the no-rename path is first-class
  * and proven by a multi-writer suite under a wrapper FileSystem that
  * refuses overwriting renames (see `S3SimAtomicLandingSpec`).
  */
sealed trait PointerStore {
  /** Atomically make the pointer read `value`. Concurrent readers see
    * the previous value or the new one, never a partial write. */
  def publish(value: String): Unit
}

object PointerStore {

  /** Comma-separated schemes treated as "no atomic rename" — the swing
    * uses the PUT form there. Override via Hadoop conf for private
    * store schemes (or to force-test the PUT path on any FS). */
  val NoRenameSchemesKey = "graft.acid.norename.schemes"
  val DefaultNoRenameSchemes = "s3,s3a,s3n,gs,oss,swift,cos,wasb,wasbs"

  /** Temp-file-and-rename swing for stores with an atomic overwriting
    * rename. On the local file system both steps go through NIO — the
    * move is `ATOMIC_MOVE`, one `rename(2)` — because Hadoop's local
    * create forks a `chmod` when libhadoop is not loaded. Plain
    * `FileSystem.rename` refuses an existing destination on HDFS, so
    * that store falls back to the `FileContext` OVERWRITE form — HDFS's
    * documented atomic replace. */
  final class Rename(fs: FileSystem, conf: Configuration, pointer: HPath)
      extends PointerStore {
    def publish(value: String): Unit = {
      val bytes = value.getBytes(StandardCharsets.UTF_8)
      val tmp = new HPath(pointer.getParent,
        s".${pointer.getName}.${java.util.UUID.randomUUID()}")
      AtomicLanding.localPath(fs, pointer) match {
        case Some(p) =>
          val t = p.resolveSibling(tmp.getName)
          Files.createDirectories(p.getParent)
          Files.write(t, bytes)
          Files.move(t, p, StandardCopyOption.ATOMIC_MOVE)
        case None =>
          val out = fs.create(tmp, true)
          try out.write(bytes) finally out.close()
          if (!fs.rename(tmp, pointer)) {
            val fc = FileContext.getFileContext(fs.getUri, conf)
            fc.rename(fs.makeQualified(tmp), fs.makeQualified(pointer),
              Options.Rename.OVERWRITE)
          }
      }
    }
  }

  /** Direct overwrite of the pointer object — the S3-class swing. The
    * store's whole-object PUT visibility (old object or new object,
    * never bytes of both) is the atomicity; there is no rename to lean
    * on and none is used. */
  final class Put(fs: FileSystem, pointer: HPath) extends PointerStore {
    def publish(value: String): Unit = {
      val out = fs.create(pointer, true)
      try out.write(value.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }
  }

  /** Pick the swing for the table's store: PUT on schemes that lack an
    * atomic rename, temp-and-rename everywhere else. */
  def forPointer(fs: FileSystem, conf: Configuration, pointer: HPath): PointerStore = {
    val noRename = conf.get(NoRenameSchemesKey, DefaultNoRenameSchemes)
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    if (noRename.contains(fs.getUri.getScheme)) new Put(fs, pointer)
    else new Rename(fs, conf, pointer)
  }
}
