package graft.stream

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.files.FileRelay
import graft.queries.Spool

/** Streaming checkpoints on `file:` start no process: without libhadoop,
  * Hadoop's local `FileContext` forks `readlink` per rename and `chmod`
  * per create and mkdir, which is what a session's checkpoint file
  * manager must avoid. JFR's `jdk.ProcessStart` events carry the stack
  * that started each process. */
class CheckpointForkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Each process started while `f` runs, as its command and the
    * classes on its stack. */
  private def processStarts(f: => Unit): Seq[(String, Seq[String])] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try f finally rec.stop()
    val file = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(Spool.dir("graft-jfr")), "forks", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.map { e =>
        (e.getString("command"),
          Option(e.getStackTrace).fold(Seq.empty[String])(
            _.getFrames.asScala.toSeq.map(_.getMethod.getType.getName)))
      }
    } finally rec.close()
  }

  test("an AvailableNow windowed aggregate starts no process from checkpoint or state-store code") {
    val t = Spool.dir("graft-ckforks")
    val relay = new FileRelay()
    for (i <- 0 until 3) relay.writeUtf8(new Path(s"$t/in/e$i.json"),
      s"""{"ts":"2024-01-10 1$i:05:00","kind":"x"}{"ts":"2024-01-10 1$i:45:00","kind":"y"}""")
    val sch = StructType(Seq(
      StructField("ts", TimestampType), StructField("kind", StringType)))
    val starts = processStarts {
      StreamMerger.runAvailableNow(
        StreamMerger.windowedEventCounts(
          StreamMerger.streamConcatenated(spark, sch, s"$t/in"), "ts", "kind"),
        s"$t/out", s"$t/ckpt")
    }
    assert(spark.read.parquet(s"$t/out").count() > 0)
    val fromCheckpoints = starts.filter(_._2.exists(c =>
      c.contains(".streaming.checkpointing.") || c.contains(".streaming.state.")))
    val n = fromCheckpoints.size
    assert(n == 0, s"of ${starts.size} process starts; commands: " +
      fromCheckpoints.map(_._1.split(" ")(0)).groupBy(identity)
        .map { case (c, cs) => s"$c ${cs.size}" }.mkString(", "))
  }
}
