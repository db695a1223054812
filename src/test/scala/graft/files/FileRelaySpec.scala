package graft.files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Spool

class FileRelaySpec extends AnyFunSuite {

  private def tmpDir(): String =
    Spool.dir("graft-relay")

  test("copyAll relays every object, names preserved, source intact") {
    val t = tmpDir(); val relay = new FileRelay()
    relay.writeUtf8(new Path(s"$t/in/a.csv"), "a")
    relay.writeUtf8(new Path(s"$t/in/b.csv"), "b")
    val copied = relay.copyAll(s"$t/in", s"$t/raw")
    assert(copied.map(_.getName).sorted == Seq("a.csv", "b.csv"))
    assert(relay.readUtf8(new Path(s"$t/raw/a.csv")) == "a")
    assert(relay.list(s"$t/in").size == 2)
  }

  test("moveAll archives and deletes exactly the copied set") {
    val t = tmpDir(); val relay = new FileRelay()
    relay.writeUtf8(new Path(s"$t/in/a.csv"), "a")
    val moved = relay.moveAll(s"$t/in", s"$t/processed")
    assert(moved.map(_.getName) == Seq("a.csv"))
    assert(relay.list(s"$t/in").isEmpty)
    assert(relay.list(s"$t/processed").map(_.getName) == Seq("a.csv"))
  }

  test("an object arriving between copy and delete survives (no data loss)") {
    val t = tmpDir()
    // inject: the late object lands right after the copy-time listing
    val relay = new FileRelay() {
      private var first = true
      override def list(prefix: String): Seq[Path] = {
        val r = super.list(prefix)
        if (first && prefix.endsWith("/in")) {
          first = false
          writeUtf8(new Path(s"$t/in/late.csv"), "late")
        }
        r
      }
    }
    relay.writeUtf8(new Path(s"$t/in/a.csv"), "a")
    relay.moveAll(s"$t/in", s"$t/processed")
    // round-1 implementation re-listed at delete time and deleted late.csv
    // without ever copying it; the fixed contract keeps it for the next run
    assert(relay.list(s"$t/in").map(_.getName) == Seq("late.csv"))
    assert(relay.list(s"$t/processed").map(_.getName) == Seq("a.csv"))
  }

  test("list of a missing prefix is empty, not an error") {
    assert(new FileRelay().list(s"${tmpDir()}/nope").isEmpty)
  }

  test("moveExact archives ONLY the caller's set — a peer object under the same prefix stays") {
    val t = tmpDir(); val relay = new FileRelay()
    relay.writeUtf8(new Path(s"$t/in/a.csv"), "a")
    relay.writeUtf8(new Path(s"$t/in/late.csv"), "late")
    val moved = relay.moveExact(Seq(new Path(s"$t/in/a.csv")), s"$t/processed")
    assert(moved.map(_.getName) == Seq("a.csv"))
    assert(relay.list(s"$t/in").map(_.getName) == Seq("late.csv"),
      "an object outside the caller's listing must never be swept in")
    assert(relay.list(s"$t/processed").map(_.getName) == Seq("a.csv"))
  }

  test("moveExact retry converges: already-moved sources skip, half-moved sources finish") {
    val t = tmpDir(); val relay = new FileRelay()
    relay.writeUtf8(new Path(s"$t/in/a.csv"), "a")
    relay.writeUtf8(new Path(s"$t/in/b.csv"), "b")
    val set = Seq(new Path(s"$t/in/a.csv"), new Path(s"$t/in/b.csv"))
    // simulate a crash mid-move: a.csv fully moved, b.csv copied but not
    // deleted (the copy-then-delete window)
    relay.moveExact(Seq(set.head), s"$t/processed")
    relay.copyAll(s"$t/in", s"$t/processed")
    val moved = relay.moveExact(set, s"$t/processed")
    assert(moved.map(_.getName) == Seq("b.csv"), "absent source skips; present finishes")
    assert(relay.list(s"$t/in").isEmpty)
    assert(relay.list(s"$t/processed").map(_.getName).sorted == Seq("a.csv", "b.csv"))
  }

  test("moveExact over a destination left with stale bytes leaves the source's bytes there and the source gone") {
    val t = tmpDir(); val relay = new FileRelay()
    relay.writeUtf8(new Path(s"$t/in/a.csv"), "fresh bytes")
    relay.writeUtf8(new Path(s"$t/processed/a.csv"), "stale")
    val moved = relay.moveExact(Seq(new Path(s"$t/in/a.csv")), s"$t/processed")
    assert(moved == Seq(new Path(s"$t/processed/a.csv")))
    assert(relay.readUtf8(new Path(s"$t/processed/a.csv")) == "fresh bytes")
    assert(relay.list(s"$t/in").isEmpty)
    assert(relay.list(s"$t/processed").map(_.getName) == Seq("a.csv"))
  }
}
