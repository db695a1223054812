package graft.functions

import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ext.{Ivf, IvfPq, Pq}

/** The native quantizer kernels against the distributed formulations
  * they replaced — same winners, same residual bits, same lookup-table
  * values, same null semantics, still inside whole-stage codegen (with
  * codegen fallback off, so a kernel that fails to compile fails here). */
class QuantizerAssignSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def emb = spark.read
    .parquet(s"${TestSpark.Sf0001}/embeddings.parquet")

  private def lut(c: org.apache.spark.sql.Column, subDim: Int,
      subVecs: Seq[Seq[Seq[Double]]]): org.apache.spark.sql.Column =
    GraftShims.column(PqLut(GraftShims.expression(c), subDim, subVecs))

  test("NearestCentroidDot == crossJoin + max_by legacy on fixture embeddings") {
    val cents = Ivf.train(emb, nLists = 8, iters = 1)
    val centsDf = cents.toDF("cid", "cvec")
    val legacy = emb.crossJoin(broadcast(centsDf))
      .withColumn("dot", expr("dot_scaled(embedding, cvec)"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("dot"), (-col("cid")).as("nc")))
        .as("lcid"))
    val mismatches = Ivf.assign(emb, cents)
      .join(legacy, "vec_id")
      .filter(col("cid") =!= col("lcid")).count()
    assert(mismatches == 0)
  }

  test("NearestCentroidResidual: cid == legacy assign, res bits == zip_with chain") {
    val cents = Ivf.train(emb, nLists = 8, iters = 1)
    val centsDf = cents.toDF("cid", "cvec")
    val legacy = emb.crossJoin(broadcast(centsDf))
      .withColumn("dot", expr("dot_scaled(embedding, cvec)"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("dot"), (-col("cid")).as("nc")))
        .as("lcid"))
      .join(emb, "vec_id")
      .join(broadcast(centsDf.withColumnRenamed("cid", "lcid")), "lcid")
      .select(col("vec_id"), col("lcid"),
        zip_with(col("embedding"), col("cvec"),
          (x, c) => x.cast("double") - c.cast("double")).as("lres"))
    val mismatches = IvfPq.residuals(emb, cents)
      .join(legacy, "vec_id")
      .filter(col("cid") =!= col("lcid") || col("res") =!= col("lres"))
      .count()
    assert(mismatches == 0)
  }

  test("PqAssignCodes == subvector explode + broadcast join + min_by legacy") {
    val cb = Pq.train(emb, m = 8, k = 16, iters = 0)
    val centsDf = cb.cents.toDF("sub", "cid", "cvec")
    val legacy = Pq.subvectors(emb, cb.m, cb.subDim)
      .join(broadcast(centsDf), "sub")
      .withColumn("d2",
        expr("dot_scaled(svec, svec)")
          - lit(2L) * expr("dot_scaled(svec, cvec)")
          + expr("dot_scaled(cvec, cvec)"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("cid")))).as("sc"))
      .select(col("vec_id"), expr("transform(sc, x -> x.cid)").as("lcodes"))
    val mismatches = Pq.encode(emb, cb)
      .join(legacy, "vec_id")
      .filter(col("codes") =!= col("lcodes")).count()
    assert(mismatches == 0)
  }

  test("null semantics: dimension mismatch or null element -> NULL") {
    val nc = (c: org.apache.spark.sql.Column) => GraftShims.column(
      NearestCentroidDot(GraftShims.expression(c),
        Seq(0, 1), Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))))
    val pq = (c: org.apache.spark.sql.Column) => GraftShims.column(
      PqAssignCodes(GraftShims.expression(c), 1,
        Seq(Seq(0), Seq(0)), Seq(Seq(Seq(1.0)), Seq(Seq(1.0)))))
    val pl = (c: org.apache.spark.sql.Column) =>
      lut(c, 1, Seq(Seq(Seq(1.0)), Seq(Seq(1.0))))
    val shortRow = Seq(Tuple1(Array(1.0f))).toDF("v")
      .select(nc(col("v")), pq(col("v")), pl(col("v"))).head()
    assert(shortRow.isNullAt(0) && shortRow.isNullAt(1) && shortRow.isNullAt(2))
    val nullElem = Seq(Tuple1(Array[java.lang.Float](1.0f, null)))
      .toDF("v").select(nc(col("v")), pq(col("v")), pl(col("v"))).head()
    assert(nullElem.isNullAt(0) && nullElem.isNullAt(1) && nullElem.isNullAt(2))
    val nullArr = Seq(Tuple1(Option.empty[Array[Float]])).toDF("v")
      .select(nc(col("v")), pq(col("v")), pl(col("v"))).head()
    assert(nullArr.isNullAt(0) && nullArr.isNullAt(1) && nullArr.isNullAt(2))
  }

  test("whole-stage codegen accepts the generated loops (no fallback)") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val df = spark.range(50).select(
      array(col("id").cast("double"), (col("id") * 2).cast("double")).as("v"))
    val plan = df.select(
        GraftShims.column(NearestCentroidDot(
          GraftShims.expression(col("v")),
          Seq(0, 1), Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))),
        GraftShims.column(NearestCentroidResidual(
          GraftShims.expression(col("v")),
          Seq(0, 1), Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))),
        GraftShims.column(PqAssignCodes(
          GraftShims.expression(col("v")), 1,
          Seq(Seq(0, 1), Seq(0, 1)),
          Seq(Seq(Seq(1.0), Seq(2.0)), Seq(Seq(1.0), Seq(2.0))))),
        lut(col("v"), 1, Seq(Seq(Seq(1.0), Seq(2.0)), Seq(Seq(1.0), Seq(2.0)))))
      .queryExecution.executedPlan
    assert(plan.find(_.isInstanceOf[WholeStageCodegenExec]).isDefined,
      plan.toString)
  }

  test("PqLut == per-(sub, code) dot_scaled table on fixture embeddings") {
    val cb = Pq.train(emb, m = 8, k = 16, iters = 0)
    val bySub = cb.cents.groupBy(_._1)
    val entries = (0 until cb.m).map(s => bySub(s).sortBy(_._2).map(_._3))
    val table = array(entries.zipWithIndex.flatMap { case (es, s) =>
      val qs = slice(col("embedding"), s * cb.subDim + 1, cb.subDim)
      es.map(c => call_function("dot_scaled", qs, array(c.map(lit): _*)))
    }: _*)
    val out = emb.select(
      lut(col("embedding"), cb.subDim, entries.map(_.map(_.map(_.toDouble)))).as("lut"),
      table.as("ref"))
    assert(out.schema("lut").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false))
    assert(out.filter(col("lut") =!= col("ref") || col("lut").isNull).count() == 0L)
    assert(out.count() == emb.count())
  }

  test("interpreted eval == generated code for every kernel, malformed rows included") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val codebook = Seq(Seq(0.0), Seq(3.0))
    // a range source, not a local relation: the optimizer would fold a
    // projection over local rows with interpreted eval
    val in = spark.range(5).select(expr("case id " +
      "when 0 then array(cast(1 as float), cast(2 as float)) " +
      "when 1 then array(cast(-3 as float), cast(0.25 as float)) " +
      "when 2 then array(cast(1 as float)) " +
      "when 3 then array(cast(1 as float), cast(null as float)) end").as("v"))
    def results(): Seq[org.apache.spark.sql.Row] = in.select(
        GraftShims.column(NearestCentroidDot(GraftShims.expression(col("v")),
          Seq(0, 1), cents)),
        GraftShims.column(NearestCentroidResidual(GraftShims.expression(col("v")),
          Seq(0, 1), cents)),
        GraftShims.column(PqAssignCodes(GraftShims.expression(col("v")), 1,
          Seq(Seq(0, 1), Seq(0, 1)), Seq(codebook, codebook))),
        lut(col("v"), 1, Seq(codebook, codebook)))
      .collect().toSeq
    val generated = results()
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val interpreted = try results() finally prev.foreach {
      case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    assert(generated == interpreted)
    // rows 2-4 are malformed: every kernel returns null on each
    assert(generated.drop(2).forall(r => (0 until 4).forall(r.isNullAt)))
    assert(generated.take(2).forall(r => (0 until 4).forall(!r.isNullAt(_))))
  }
}
