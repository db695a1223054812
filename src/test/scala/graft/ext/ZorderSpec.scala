package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.Spool

class ZorderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("zkey interleaves bits exactly (hand-checked Morton pairs)") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 0L),
      (0L, 2L), (3L, 3L), (5L, 9L)).toDF("a", "b")
    val keys = df.select(Zorder.zkey(Seq(col("a"), col("b")), bits = 4))
      .collect().map(_.getLong(0)).toSeq
    // bit j of a -> position 2j; bit j of b -> position 2j+1
    // z(1,0)=1, z(0,1)=2, z(1,1)=3, z(2,0)=4, z(0,2)=8,
    // z(3,3)=15, z(5,9)= (101 interleaved with 1001)
    //   a=0101 -> bits at 0,4 ; b=1001 -> bits at 1,7 -> wait: bits of
    //   b land at 2j+1: j=0 ->1, j=3 ->7 => 1+2+16+128 = 147? compute:
    //   a bits j=0,2 -> positions 0,4 = 1+16 ; b bits j=0,3 ->
    //   positions 1,7 = 2+128 => 147
    assert(keys == Seq(0L, 1L, 2L, 3L, 4L, 8L, 15L, 147L))
  }

  test("zkey masks out-of-range values instead of corrupting high bits") {
    val df = Seq((65536L + 5L, 3L)).toDF("a", "b")
    val masked = df.select(Zorder.zkey(Seq(col("a"), col("b")), 16))
      .head().getLong(0)
    val inRange = Seq((5L, 3L)).toDF("a", "b")
      .select(Zorder.zkey(Seq(col("a"), col("b")), 16)).head().getLong(0)
    assert(masked == inRange)
  }

  test("scala zkey equals the generated DuckDB replay run through Spark SQL") {
    // the oracle SQL is integer shifts valid in BOTH engines; evaluating
    // it in Spark proves the generated string computes the same key the
    // Column expression does (DuckDB agreement is the q_zorder hash gate)
    val df = Seq((12L, 345L), (999L, 1L), (65535L, 65535L))
      .toDF("a", "b")
    val viaCol = df.select(Zorder.zkey(Seq(col("a"), col("b")), 16).as("k"))
      .collect().map(_.getLong(0)).toSeq
    val viaSql = df.selectExpr(s"(${Zorder.zkeySql(Seq("a", "b"), 16)}) as k")
      .collect().map(_.getLong(0)).toSeq
    assert(viaCol == viaSql)
  }

  test("bucketedWrite: one file per non-empty bucket, deterministic assignment") {
    val dir = Spool.dir("graft-zbucket") + "/orders"
    val orders = graft.Tables.t(spark, TestSpark.Sf0001, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val domains = Zorder.bucketedWrite(orders, dir,
      Seq("o_custkey", "o_orderkey"), bits = 16, nBuckets = 16)
    val width = (1L << 32) / 16
    // the bucket dirs on disk are exactly the distinct computed bucket ids
    val expected = Zorder.withKey(orders, domains, 16)
      .select((col("_zkey") / lit(width)).cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val dirs = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("_zb="))
      .map(_.stripPrefix("_zb=").toLong).toSet
    assert(dirs == expected)
    // one data file per bucket dir — the invariant that makes per-bucket
    // min/max in SQL equal per-FILE footer stats
    new java.io.File(dir).listFiles.filter(_.isDirectory).foreach { d =>
      assert(d.listFiles.count(_.getName.endsWith(".parquet")) == 1,
        s"${d.getName}: expected exactly one parquet file")
    }
  }

  test("statsPrune never false-skips: pruned-read counts equal full counts") {
    val dir = Spool.dir("graft-zpruneprop") + "/orders"
    val orders = graft.Tables.t(spark, TestSpark.Sf0001, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val Seq((_, lo1, hi1), (_, lo2, hi2)) = Zorder.bucketedWrite(orders, dir,
      Seq("o_custkey", "o_orderkey"), bits = 16, nBuckets = 16)
    val sp1 = hi1 - lo1; val sp2 = hi2 - lo2
    // a grid of probes across both dimensions, incl. out-of-domain edges
    val probes = for {
      q <- Seq(0L, 1L, 2L, 3L, 4L)
      w <- Seq(sp1 / 50 max 1L, sp1 / 7 max 1L)
    } yield Seq(("o_custkey", lo1 + q * sp1 / 4 - w / 2, lo1 + q * sp1 / 4 + w / 2),
                ("o_orderkey", lo2 + q * sp2 / 4, lo2 + q * sp2 / 4 + w))
    var prunedSomething = false
    probes.foreach { pr =>
      val (total, sel) = Zorder.statsPrune(spark, dir, pr)
      if (sel.size < total) prunedSomething = true
      val filt = pr.map { case (c, lo, hi) => col(c).between(lo, hi) }.reduce(_ && _)
      val full = orders.filter(filt).count()
      val pruned = if (sel.isEmpty) 0L
        else spark.read.parquet(sel: _*).filter(filt).count()
      assert(pruned == full, s"probe $pr: pruned read lost rows ($pruned vs $full)")
    }
    assert(prunedSomething, "no probe pruned any file — layout gives no skipping")
  }

  test("z-ordered files prune on BOTH dimensions from footer stats") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val dir = Spool.dir("graft-zorder") + "/orders"
    val orders = graft.Tables.t(spark, TestSpark.Sf0001, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val nFiles = 8
    Zorder.clusteredWrite(orders, dir,
      Seq("o_orderkey", "o_custkey"), bits = 16, nFiles = nFiles)

    val conf = spark.sparkContext.hadoopConfiguration
    def ranges(column: String): Seq[(Long, Long)] =
      new java.io.File(dir).listFiles
        .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), conf))
          try {
            val stats = r.getFooter.getBlocks.asScala.map(_.getColumns.asScala
              .find(_.getPath.toDotString == column).get.getStatistics)
            (stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
              stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max)
          } finally r.close()
        }

    // locality: on EACH interleaved dimension the mean per-file span is
    // well under the global span — a range layout on one column gives
    // this for that column only; z-order gives it for both at once
    Seq("o_orderkey", "o_custkey").foreach { c =>
      val rs = ranges(c)
      assert(rs.size == nFiles)
      val global = rs.map(_._2).max - rs.map(_._1).min
      val meanSpan = rs.map { case (lo, hi) => hi - lo }.sum.toDouble / nFiles
      assert(meanSpan <= 0.7 * global,
        s"$c: mean file span $meanSpan vs global $global — no locality")
      // and a point-ish predicate can skip at least half the files on
      // footer stats alone
      val probe = (rs.map(_._1).min + global / 10)
      val hit = rs.count { case (lo, hi) => lo <= probe && probe <= hi }
      assert(hit <= nFiles / 2, s"$c: $hit of $nFiles files overlap probe")
    }
  }

  test("ACID layout lifecycle: appends decay locality, maintainZordered restores it, concurrent appends ride the fold") {
    import graft.land.AtomicLanding
    val tbl = Spool.dir("graft-zlife") + "/orders_zm"
    val cols = Seq("o_custkey", "o_orderkey")
    val o = graft.Tables.t(spark, TestSpark.Sf0001, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    Zorder.zorderedCommit(o.where(pmod(col("o_orderkey"), lit(4)) =!= 0),
      tbl, cols, bits = 16, nFiles = 8)
    for ((m, i) <- Seq(0L, 4L).zipWithIndex)
      Zorder.appendUnordered(o.where(pmod(col("o_orderkey"), lit(12)) === m),
        tbl, cols, bits = 16, batchId = Some(i + 1L))
    // replayed identified batch: no version
    val vr = AtomicLanding.currentVersion(tbl)
    Zorder.appendUnordered(o.where(pmod(col("o_orderkey"), lit(12)) === 4L),
      tbl, cols, bits = 16, batchId = Some(2L))
    assert(AtomicLanding.currentVersion(tbl) == vr)

    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def dirBytes(d: String): Long = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(s"$tbl/$d")).getLength
    val dirs0 = AtomicLanding.dirsOfVersion(tbl,
      AtomicLanding.currentVersion(tbl).get)
    val bodyDir = dirs0.maxBy(dirBytes)
    val tail = dirs0.filterNot(_ == bodyDir).map(d => s"$tbl/$d")
    cols.foreach { c =>
      assert(Zorder.meanSpanFraction(spark, tail, c) > 0.5,
        s"$c: the unordered tail must have decayed locality")
    }

    val before = AtomicLanding.read(spark, tbl)
      .agg(count(lit(1)), sum(col("o_orderkey"))).head()
    // a batch landing DURING the fold rides the rebase untouched
    val late = o.where(pmod(col("o_orderkey"), lit(12)) === 8L)
      .localCheckpoint()
    val lateKeyed = Zorder.withKey(late,
      Zorder.domainsOf(late, cols), 16).localCheckpoint()
    val comp = AtomicLanding.compactSmallFrom(spark, tbl,
      smallBytes = dirBytes(bodyDir) - 1,
      beforeCommit = () =>
        { AtomicLanding.commit(lateKeyed, tbl, append = true); () },
      transform = Some(df => {
        val keyed = Zorder.withKey(df.drop("_zkey"),
          Zorder.domainsOf(df, cols), 16)
        keyed.repartitionByRange(8, col("_zkey"))
          .sortWithinPartitions(col("_zkey"))
      }))
    assert(comp.foldDir.nonEmpty, "the tail must have folded")
    val after = AtomicLanding.read(spark, tbl)
      .agg(count(lit(1)), sum(col("o_orderkey"))).head()
    assert(after.getLong(0) == before.getLong(0) + late.count(),
      "the fold must conserve rows and carry the ridden append")
    // fold locality restored on BOTH interleaved dimensions
    cols.foreach { c =>
      assert(Zorder.meanSpanFraction(spark,
        Seq(s"$tbl/${comp.foldDir.get}"), c) <= 0.7,
        s"$c: the folded tail must be z-local again")
    }
    // body untouched; live dirs = body + fold + the ridden append
    val dirs1 = AtomicLanding.dirsOfVersion(tbl,
      AtomicLanding.currentVersion(tbl).get)
    assert(dirs1.contains(bodyDir), "the body dir must never rewrite")
    assert(dirs1.size == 3,
      s"expected body + fold + ridden append, got ${dirs1.size}")
  }
}
