package graft.land

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{JobContext, OutputCommitter, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.mapred.SparkHadoopMapRedUtil

/** The commit protocol of an [[AtomicLanding]] write job. Task attempts
  * write straight into the commit's staging dir, and graft's own
  * protocol (move under `data/`, manifest, pointer swing) is the job
  * commit, so this one adds no second protocol inside it: no
  * `_temporary` tree, no job-level merge pass, no `_SUCCESS` file.
  * Delta's `DelayedCommitProtocol` and Spark's own
  * `ManifestFileCommitProtocol` plug into the same extension point.
  *
  * An attempt writes `_<attempt id>-part-<split>-<job>-c<n>.<ext>`; the
  * leading `_` hides the file from readers (Spark's file index and
  * [[AtomicLanding]]'s footer scan skip `_` and `.` names). The task
  * commit goes through `SparkHadoopMapRedUtil.commitTask`, so the
  * driver's output-commit coordinator authorizes one attempt per
  * partition, and renames each file to `part-<split>-<job>-c<n>.<ext>`,
  * Spark's own naming. An aborted or denied attempt deletes what it
  * wrote; an attempt that dies without aborting leaves a hidden file no
  * reader opens, reclaimed with its dir. The job is complete when
  * `FileFormatWriter.write` returns: every partition's authorized
  * attempt has committed. `jobId` names the files, `dir` is the staging
  * dir the driver already made. */
private[land] final class StagingCommitProtocol(jobId: String, dir: String)
    extends FileCommitProtocol with Serializable {

  /** This attempt's files as (hidden name, committed name), and the
    * ones its commit has renamed so far; set per task on the executor. */
  @transient private var files: ArrayBuffer[(HPath, HPath)] = _
  @transient private var committed: ArrayBuffer[HPath] = _

  def setupJob(job: JobContext): Unit = ()

  def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit = ()

  /** The staging dir is this job's alone: drop it (best effort; a dir
    * left behind is unreachable garbage that `vacuum` reclaims). */
  def abortJob(job: JobContext): Unit = {
    val d = new HPath(dir)
    try d.getFileSystem(job.getConfiguration).delete(d, true)
    catch { case NonFatal(_) => () }
  }

  def setupTask(task: TaskAttemptContext): Unit = {
    files = ArrayBuffer.empty
    committed = ArrayBuffer.empty
  }

  override def newTaskTempFile(task: TaskAttemptContext, subdir: Option[String],
      spec: FileNameSpec): String = {
    require(subdir.isEmpty, s"an AtomicLanding commit writes no partition dirs: $subdir")
    val split = task.getTaskAttemptID.getTaskID.getId
    val name = f"${spec.prefix}part-$split%05d-$jobId${spec.suffix}"
    val hidden = new HPath(dir, s"_${task.getTaskAttemptID}-$name")
    files += hidden -> new HPath(dir, name)
    hidden.toString
  }

  def commitTask(task: TaskAttemptContext): TaskCommitMessage = {
    val id = task.getTaskAttemptID
    SparkHadoopMapRedUtil.commitTask(renamer, task, id.getJobID.getId, id.getTaskID.getId)
    new TaskCommitMessage(files.map(_._2.getName).toSeq)
  }

  /** Deletes this attempt's hidden files, and any it renamed before its
    * commit failed, so a retried attempt is the partition's only output. */
  def abortTask(task: TaskAttemptContext): Unit =
    (files.map(_._1) ++ committed).foreach { p =>
      try p.getFileSystem(task.getConfiguration).delete(p, false)
      catch { case NonFatal(_) => () }
    }

  /** The task commit the coordinator authorizes: each hidden file is
    * renamed to its committed name (the checksum file system moves the
    * `.crc` with it). */
  private def renamer: OutputCommitter = new OutputCommitter {
    def setupJob(job: JobContext): Unit = ()
    def setupTask(task: TaskAttemptContext): Unit = ()
    def needsTaskCommit(task: TaskAttemptContext): Boolean = files.nonEmpty
    def commitTask(task: TaskAttemptContext): Unit = files.foreach { case (hidden, name) =>
      if (!hidden.getFileSystem(task.getConfiguration).rename(hidden, name))
        throw new java.io.IOException(s"could not commit $hidden as $name")
      committed += name
    }
    def abortTask(task: TaskAttemptContext): Unit = ()
  }
}
