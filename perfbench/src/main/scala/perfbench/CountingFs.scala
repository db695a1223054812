package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Local file-system calls, counted. Hadoop's own statistics count bytes
  * but no operations on the local file system, and the landing protocol
  * is operations (manifests, pointers, renames, listings): each one is a
  * request on an object store. `core-site.xml` on the benchmark's
  * classpath installs this as the JVM's `file:` implementation, so the
  * checksum layer and the raw layer (which the landing protocol uses
  * directly) both go through it. */
object FsOps {
  val reads = new AtomicLong
  val writes = new AtomicLong
}

final class CountingRawFileSystem extends RawLocalFileSystem {
  private def r[A](a: => A): A = { FsOps.reads.incrementAndGet(); a }
  private def w[A](a: => A): A = { FsOps.writes.incrementAndGet(); a }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = r(super.open(f, bufferSize))
  override def listStatus(f: Path): Array[FileStatus] = r(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus = r(super.getFileStatus(f))
  override def append(f: Path, bufferSize: Int, p: Progressable): FSDataOutputStream =
    w(super.append(f, bufferSize, p))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, p: Progressable): FSDataOutputStream =
    w(super.create(f, overwrite, bufferSize, replication, blockSize, p))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, p: Progressable): FSDataOutputStream =
    w(super.create(f, permission, overwrite, bufferSize, replication, blockSize, p))
  override def rename(src: Path, dst: Path): Boolean = w(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = w(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = w(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean = w(super.mkdirs(f, permission))
}

final class CountingLocalFileSystem extends LocalFileSystem(new CountingRawFileSystem)
