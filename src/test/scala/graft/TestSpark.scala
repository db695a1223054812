package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (suites run sequentially in
  * the forked test JVM; building a session per suite costs ~5s each).
  * Codegen fallback is off: a generated-code compile failure fails the
  * query instead of silently running the stage interpreted. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.build(4, "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
}
