package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextOps._

/** Built-ins-only formulations of values the engine computes with native
  * kernels or a faster plan: the equivalence targets the specs compare
  * the production paths against. */
object Reference {

  /** MinHash signatures from higher-order functions (equivalence target
    * for the native [[graft.functions.MinHashSig]] expression). */
  def minhashSignaturesHof(docs: DataFrame, n: Int = 3): DataFrame = {
    val aArr = array(Dedup.minhashSeeds.map(s => lit(s._1)): _*)
    val bArr = array(Dedup.minhashSeeds.map(s => lit(s._2)): _*)
    docs
      .select(col("doc_id"), shingles(col("text"), n).as("sh"))
      .withColumn("hx", transform(col("sh"), s => pmod(xxhash64(s), lit(P))))
      .withColumn("sig", zip_with(aArr, bArr,
        (a, b) => array_min(transform(col("hx"), x => pmod(a * x + b, lit(P))))))
      .drop("hx")
  }

  /** 60-bit SimHash from higher-order functions: the target for the
    * native [[graft.functions.SimHash60]] expression, and the literal
    * shape the DuckDB oracle reproduces. */
  def simhash60Hof(hxCol: String): Column = expr(
    s"""aggregate(
       |  transform(sequence(0, 59), j ->
       |    IF(aggregate($hxCol, 0L,
       |         (acc, h) -> acc + (shiftright(h, j) & 1L) * 2L - 1L) > 0L,
       |       shiftleft(1L, j), 0L)),
       |  0L, (a, x) -> a + x)""".stripMargin)

  /** [[Dedup.simhashSignatures]] through a shingle dictionary: each
    * distinct shingle is hashed once and occurrences pick their hash up
    * by a broadcast equi-join. The same signature bit for bit (the
    * majority vote is order-independent); measured ~4x slower on the
    * sf0.01 fixture's healthy vocabulary, so it is not an engine path. */
  def simhashSignaturesDict(docs: DataFrame, n: Int = 3): DataFrame = {
    val occ = docs.select(col("doc_id"), explode(shingles(col("text"), n)).as("s"))
    val dict = occ.select(col("s")).distinct()
      .withColumn("h", hash60(col("s")))
    occ.join(broadcast(dict), "s")
      .groupBy(col("doc_id"))
      .agg(collect_list(col("h")).as("hx"))
      .select(col("doc_id"), Dedup.simhash60("hx").as("sim"))
  }

  /** The exact scaled dot product from higher-order functions (target
    * for [[graft.functions.DotScaled]]). */
  def dotScaledHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        floor(x.cast("double") * y.cast("double") * lit(1e15)).cast("long")),
      lit(0L), (acc, v) => acc + v)
}
