package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Outcome, TestSuite}

/** One shared local session for every suite (suites run sequentially in
  * the forked test JVM; building a session per suite costs ~5s each). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.build(4, "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"

  private val FallbackKey = "spark.sql.codegen.fallback"

  /** Runs `f` with codegen fallback off, restoring the session after: a
    * generated-code compile failure then fails the query instead of
    * silently running the stage interpreted. */
  def withoutFallback[T](f: => T): T = {
    val prev = spark.conf.getOption(FallbackKey)
    spark.conf.set(FallbackKey, "false")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(FallbackKey, v)
      case None => spark.conf.unset(FallbackKey)
    }
  }
}

/** Runs every test of the suite under [[TestSpark.withoutFallback]]. */
trait NoCodegenFallback extends TestSuite {
  abstract override def withFixture(test: NoArgTest): Outcome =
    TestSpark.withoutFallback(super.withFixture(test))
}
