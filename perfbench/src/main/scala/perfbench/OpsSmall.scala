package perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ext.Dedup

/** `ops_small`: operations over sf0.001-sized tables, where the inputs
  * are tiny and each op's time is its fixed cost (jobs, planning,
  * codegen, micro-batch machinery). The ops are job-heavy coverage
  * queries (layer `queries`) and direct calls into the curation funnel
  * (layer `ext`), each evaluated in full. A pass runs every op once, in
  * an order the seed shuffles. */
final class OpsSmall(spark: SparkSession, work: String, seed: Long)
    extends Workload {
  import OpsSmall._

  private var dir = ""
  private val order = new Random(seed)

  def setUp(rep: Int): Unit = {
    dir = s"$work/small_$rep"
    DataGen.write(spark, dir, DataSeed)
  }

  private def docs = graft.Tables.t(spark, dir, "documents")

  /** (layer, op name, call) for every op of a pass. The two `graft.ext`
    * calls are MinHash (persists intermediates it never releases) and
    * SimHash (the `SimHash60` kernel). */
  private def ops: Seq[(String, String, () => DataFrame)] =
    Queries.map(q => ("queries", q, () => graft.SparkEntry.queries(q)(spark, dir))) ++ Seq(
      ("ext", "Dedup.minhashNearDupPairs", () => Dedup.minhashNearDupPairs(docs, threshold = 0.6)),
      ("ext", "Dedup.simhashPairs", () => Dedup.simhashPairs(docs, maxHamming = 7)))

  private def pass(r: Recorder, order: Seq[(String, String, () => DataFrame)]): Unit =
    order.foreach { case (layer, name, call) => r.dfOp(layer, name, name)(call()) }

  /** Also builds the per-JVM spools the queries keep for this dir. */
  def warmUp(r: Recorder): Unit = pass(r, ops)
  def step(r: Recorder): Unit = pass(r, order.shuffle(ops))
  def warmSteps: Int = 1
  def minSteps: Int = 3
  def finish(r: Recorder): Map[String, Double] = Map.empty
}

object OpsSmall {
  val DataSeed = 20240101L
  /** The most job-heavy row family of the sf0.001 job profile (35
    * jobs), and a micro-batch row that costs streaming machinery, not
    * jobs. */
  val Queries: Seq[String] = Seq("q_pagerank_converged", "q_stream_window")
}
