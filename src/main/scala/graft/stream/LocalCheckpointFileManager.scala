package graft.stream

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => NPath}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataInputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

import graft.land.AtomicLanding

/** The checkpoint file manager of every graft session (set through
  * Spark's `spark.sql.streaming.checkpointFileManagerClass` in
  * [[graft.Sessions.build]]): a streaming query's offset log, commit
  * log, metadata file and state store go through it, on the driver and
  * in tasks.
  *
  * On `file:` its writes and dir creation go through NIO. Spark's
  * default manager is Hadoop's `FileContext` over `RawLocalFs`, which
  * without libhadoop forks a process for every create (`chmod`), every
  * mkdir (`chmod`) and every rename (`readlink`, once per source, target
  * and `.crc` sidecar): one `q_stream_window` run started 157 processes
  * that way, this manager none.
  *   - [[createAtomic]] writes `.<name>.<uuid>.tmp` beside the target
  *     and publishes it at `close()`: with `overwriteIfPossible` by one
  *     `rename(2)` (`ATOMIC_MOVE`), without it by one `link(2)`, which
  *     refuses an existing target atomically; `HDFSMetadataLog` reads
  *     that `FileAlreadyExistsException` as a concurrent writer.
  *     `cancel()` deletes the temp file.
  *   - `open`, `exists` and `list` go through the raw local file system,
  *     which does not fork for them; `list` hides Hadoop's `.crc`
  *     sidecars as `ChecksumFs` does, and `delete` removes a file's
  *     sidecar with it, so a checkpoint written by Spark's default
  *     manager resumes here.
  *
  * Any other scheme gets exactly what `CheckpointFileManager.create`
  * builds without this class set, so HDFS and object stores behave as
  * before.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[stream] val underlying: CheckpointFileManager =
    path.getFileSystem(hadoopConf) match {
      case fs if fs.getUri.getScheme == "file" => new Nio(path, fs match {
        case c: ChecksumFileSystem => c.getRawFileSystem
        case f => f
      })
      case _ => sparkDefault(path, hadoopConf)
    }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = underlying.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  def exists(p: Path): Boolean = underlying.exists(p)
  def delete(p: Path): Unit = underlying.delete(p)
  def isLocal: Boolean = underlying.isLocal
  def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  /** The Spark conf that names a session's checkpoint file manager. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** What Spark builds when no manager class is set: the `FileContext`
    * manager, or the `FileSystem` one for a scheme without a
    * `FileContext`. */
  private def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager = {
    val c = new Configuration(conf)
    c.unset(ClassKey)
    CheckpointFileManager.create(path, c)
  }

  /** Whether `name` is a Hadoop checksum sidecar (`.<file>.crc`), the
    * names `ChecksumFs` hides from a listing. */
  private def isSidecar(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")

  private final class Nio(root: Path, raw: FileSystem) extends CheckpointFileManager {
    private def local(p: Path): NPath = AtomicLanding.localPath(raw, p).get

    def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(p)
      Files.createDirectories(target.getParent)
      new NioAtomicStream(
        target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp"),
        target, overwriteIfPossible)
    }

    def open(p: Path): FSDataInputStream = raw.open(p)

    def list(p: Path, filter: PathFilter): Array[FileStatus] =
      raw.listStatus(p, (q: Path) => !isSidecar(q.getName) && filter.accept(q))

    def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    def exists(p: Path): Boolean = raw.exists(p)

    def delete(p: Path): Unit = {
      try raw.delete(p, true) catch { case _: FileNotFoundException => }
      Files.deleteIfExists(AtomicLanding.crcSidecar(local(p)))
    }

    def isLocal: Boolean = true

    def createCheckpointDirectory(): Path = {
      mkdirs(root)
      raw.makeQualified(root)
    }
  }

  /** A temp file published at `close()`. Writes are buffered: the logs
    * write a line at a time. */
  private final class NioAtomicStream(tmp: NPath, target: NPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite) {
            // a sidecar left by Spark's default manager would fail a
            // checksummed read of the new bytes
            Files.deleteIfExists(AtomicLanding.crcSidecar(target))
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          } else {
            try Files.createLink(target, tmp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
          }
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => }
        Files.deleteIfExists(tmp)
      }
    }
  }
}
