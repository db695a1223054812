package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  test("a job started inside span A never counts toward span B") {
    val t = new Tracer(traced = true)
    t.attach(spark)
    t.span("a", "A") { spark.range(100).selectExpr("sum(id)").collect() }
    t.span("b", "B") { Thread.sleep(5) }
    t.span("a", "outer") {
      t.span("b", "inner") { spark.range(10).selectExpr("sum(id)").collect() }
    }
    spark.range(5).selectExpr("sum(id)").collect() // after every span closed
    t.drain()
    val id = t.spans.map(s => s.name -> s.id).toMap
    def jobs(n: String) = t.countersOf(id(n)).jobs
    assert(jobs("A") >= 1)
    assert(jobs("B") == 0, "the sibling span saw none of A's jobs")
    assert(jobs("inner") >= 1)
    assert(jobs("outer") == 0, "a child span's job is not its parent's")
    assert(t.countersOf(0L).jobs >= 1, "a job outside every span stays unattributed")
    assert(t.jobs.map(_.span).toSet.subsetOf(Set(id("A"), id("inner"), 0L)))
    assert(t.jobs.filter(_.span == id("A")).map(_.id).toSet
      .intersect(t.jobs.filter(_.span == id("inner")).map(_.id).toSet).isEmpty)
  }

  test("spans nest and record their parent") {
    val t = new Tracer(traced = true)
    t.attach(spark)
    t.span("bench", "run") { t.span("app", "x") { t.span("catalog", "y")(()) } }
    val s = t.spans.map(x => x.name -> x).toMap
    assert(s("run").parent == 0L)
    assert(s("x").parent == s("run").id && s("y").parent == s("x").id)
    assert(s("run").start <= s("x").start && s("x").end <= s("run").end)
  }

  test("checks and input generation run aside: outside the op time, in their own spans") {
    val t = new Tracer(traced = true)
    t.attach(spark)
    val r = new Recorder(spark, t)
    r.op("app", "x")(41) { v => Thread.sleep(60); if (v == 41) None else Some("wrong") }
    r.aside("input") { spark.range(10).selectExpr("sum(id)").collect() }
    t.drain()
    assert(r.failures.isEmpty && r.ops.size == 1)
    assert(r.ops.head < 0.06, "the check's time is not the op's")
    assert(r.asideNs >= 60000000L, "the check's time is aside")
    val aside = t.spans.filter(_.layer == Recorder.Aside)
    assert(aside.map(_.name).toSet == Set("clearCache", "check x", "input"))
    assert(t.jobs.nonEmpty && t.jobs.forall(j => aside.exists(_.id == j.span)),
      "the aside job is the aside span's, not the op's")
  }

  test("an untraced tracer records nothing") {
    val t = new Tracer(traced = false)
    t.attach(spark)
    assert(t.span("a", "A")(41) + 1 == 42)
    assert(t.spans.isEmpty)
  }

  test("the fingerprint is graft.Bench.materialize's, with the row count") {
    val df = spark.range(1000).selectExpr("id", "cast(id * 7 % 13 as string) s")
    val r = Fingerprint.of(df)
    assert(r.rows == 1000L)
    assert(r.fp == graft.Bench.materialize(df))
  }

  test("local file-system operations are counted, including the raw layer") {
    import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
    val fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    assert(fs.isInstanceOf[CountingLocalFileSystem])
    val raw = fs.asInstanceOf[ChecksumFileSystem].getRawFileSystem
    val p = new Path(java.nio.file.Files.createTempDirectory("perfbench-fs").toString, "x")
    val (w0, r0) = (FsOps.writes.get, FsOps.reads.get)
    val out = raw.create(p, true)
    out.write(1); out.close()
    raw.getFileStatus(p)
    raw.open(p).close()
    assert(FsOps.writes.get - w0 >= 1)
    assert(FsOps.reads.get - r0 >= 2)
  }
}
