package graft.land

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, Job, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.queries.Spool

/** Task-side driver of a [[StagingCommitProtocol]]: each call writes
  * `ids` as one attempt of partition 0 and returns its context, for the
  * caller to commit, abort or abandon. */
final case class ProtocolAttempts(proto: StagingCommitProtocol,
    factory: OutputWriterFactory, conf: SerializableConfiguration) {
  private val schema = StructType(Seq(StructField("id", LongType)))

  def write(attempt: Int, ids: Seq[Long]): TaskAttemptContext = {
    val ctx = new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID(new TaskID(new JobID("spec", 0), TaskType.MAP, 0), attempt))
    proto.setupTask(ctx)
    val f = proto.newTaskTempFile(ctx, None,
      FileNameSpec("", "-c000" + factory.getFileExtension(ctx)))
    val w = factory.newInstance(f, schema, ctx)
    try ids.foreach(i => w.write(InternalRow(i))) finally w.close()
    ctx
  }
}

/** The staging protocol's attempt rules, driven inside one Spark task so
  * a task commit asks the driver's output-commit coordinator as a write
  * job's would. */
class StagingCommitProtocolSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def attempts(dir: String): ProtocolAttempts = {
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty,
      StructType(Seq(StructField("id", LongType))))
    ProtocolAttempts(new StagingCommitProtocol("spec", dir), factory,
      new SerializableConfiguration(job.getConfiguration))
  }

  /** Runs `body` in the one task of a one-partition job. */
  private def inTask(pa: ProtocolAttempts)(body: ProtocolAttempts => Unit): Unit =
    spark.sparkContext.parallelize(Seq(0), 1).foreach(_ => body(pa))

  private def names(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten.sorted

  test("an aborted attempt leaves no file, and an abort then a commit leaves exactly one file for the partition") {
    val dir = Spool.dir("graft-stagingproto") + "/s"
    new java.io.File(dir).mkdirs()
    inTask(attempts(dir)) { pa =>
      val a0 = pa.write(0, 100L to 109L)
      pa.proto.abortTask(a0)
      val a1 = pa.write(1, 0L to 9L)
      pa.proto.commitTask(a1)
    }
    val part = "part-00000-spec-c000.snappy.parquet"
    assert(names(dir) == Seq(s".$part.crc", part))
    assert(spark.read.parquet(dir).collect().map(_.getLong(0)).sorted.toSeq == (0L to 9L))
  }

  test("an aborted attempt in a committed dir leaves nothing AtomicLanding.read sees, and an abandoned attempt's hidden file is skipped by readers and footerKeyRange") {
    val table = Spool.dir("graft-stagingproto") + "/t"
    AtomicLanding.commit(spark.range(0, 10, 1, 1).toDF("id"), table)
    val Seq(dir) = AtomicLanding.dirPathsOfVersion(table, 0L)
    val before = names(dir)
    inTask(attempts(dir)) { pa =>
      pa.proto.abortTask(pa.write(0, 100L to 109L))
      pa.write(1, 200L to 209L) // dies without committing or aborting
    }
    val hidden = names(dir).diff(before).filter(_.startsWith("_"))
    assert(hidden.size == 1, names(dir))
    val conf = spark.sparkContext.hadoopConfiguration
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(dir, hidden.head), conf))
    try assert(r.getRecordCount == 10L, "the abandoned attempt wrote a whole file")
    finally r.close()
    assert(AtomicLanding.read(spark, table).collect().map(_.getLong(0)).sorted.toSeq == (0L to 9L))
    assert(AtomicLanding.footerKeyRange(spark, dir, "id", planning = false)
      .contains(("long", "0", "9")))
  }
}
