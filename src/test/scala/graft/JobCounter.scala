package graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts on the calling thread: the block
  * runs under a fresh job group, and only job starts carrying that group
  * count, so jobs another thread runs meanwhile never leak in. The
  * listener bus is drained before the count is read. */
object JobCounter {
  def jobsDuring[A](spark: SparkSession)(body: => A): (A, Long) = {
    val sc = spark.sparkContext
    val group = s"job-counter-${UUID.randomUUID()}"
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (Option(s.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted block")
      val out = try body finally sc.clearJobGroup()
      GraftListenerBus.drain(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
