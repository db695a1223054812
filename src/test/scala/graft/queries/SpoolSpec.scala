package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The fixture spool: a per-JVM memo with a build-once contract, and temp
  * trees that one exit-time routine deletes. */
class SpoolSpec extends AnyFunSuite {

  private def key(name: String) = s"SpoolSpec#$name#${System.nanoTime()}"

  test("the same key builds once and returns the identical value") {
    val k = key("once")
    val builds = new AtomicInteger
    val first = Spool.once(k) { builds.incrementAndGet(); new Object }
    val second = Spool.once(k) { builds.incrementAndGet(); new Object }
    assert(first eq second)
    assert(builds.get == 1)
  }

  test("a key builds once under concurrent first calls, and a nested spool may build inside") {
    val (k, inner) = (key("race"), key("inner"))
    val builds = new AtomicInteger
    val threads = (1 to 4).map(_ => new Thread(() => {
      Spool.once(k) {
        builds.incrementAndGet(); Thread.sleep(50)
        Spool.once(inner)("nested") + "-outer"
      }; ()
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(builds.get == 1)
    assert(Spool.once(k)("rebuilt") == "nested-outer")
  }

  test("distinct keys get distinct dirs") {
    val a = Spool.once(key("a"))(Spool.dir("graft-spoolspec"))
    val b = Spool.once(key("b"))(Spool.dir("graft-spoolspec"))
    assert(a != b)
    assert(Files.isDirectory(Paths.get(a)) && Files.isDirectory(Paths.get(b)))
    assert(Paths.get(a).getFileName.toString.startsWith("graft-spoolspec"))
  }

  test("a build that throws memoizes nothing and is retried on the next call") {
    val k = key("throws")
    intercept[IllegalStateException](
      Spool.once[String](k)(throw new IllegalStateException("first build fails")))
    assert(Spool.once(k)("second build") == "second build")
    assert(Spool.once(k)("third build") == "second build")
  }

  test("build seconds count each build's wall once, nested builds inside it") {
    val before = Spool.buildSeconds
    Spool.once(key("timed")) {
      Thread.sleep(100)
      Spool.once(key("timedInner")) { Thread.sleep(300); 1 }
    }
    val spent = Spool.buildSeconds - before
    assert(spent >= 0.4 && spent < 0.7, spent) // 0.7 and up: inner counted twice
  }

  test("the exit routine deletes every registered tree, nested files included") {
    val trees = new Spool.Trees
    val dirs = (1 to 3).map(_ => trees.dir("graft-spoolspec-exit"))
    dirs.foreach { d =>
      Files.createDirectories(Paths.get(d, "a", "b"))
      Files.writeString(Paths.get(d, "a", "b", "part-0.parquet"), "x")
      Files.writeString(Paths.get(d, "top.json"), "{}")
    }
    trees.deleteAll()
    dirs.foreach(d => assert(!Files.exists(Paths.get(d)), d))
  }

  test("no hand-written spool or raw temp dir comes back under queries/") {
    val root = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val files = Files.list(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "Spool.scala"))
    val offenders = for {
      f <- files
      word <- Seq("TrieMap", "createTempDirectory")
      if Files.readString(f).contains(word)
    } yield s"${f.getFileName}: $word"
    assert(offenders.isEmpty,
      s"use Spool.once / Spool.dir instead: ${offenders.mkString(", ")}")
  }
}
