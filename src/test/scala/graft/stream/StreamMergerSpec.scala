package graft.stream

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.hadoop.fs.Path
import graft.files.FileRelay
import graft.queries.Spool

class StreamMergerSpec extends AnyFunSuite {

  test("splitConcatenated survives braces and quotes inside string values") {
    val a = """{"k":"}{","n":1}"""
    val b = """{"k":"\"{", "m":{"x":2}}"""
    val c = """{"esc":"\\"}"""
    assert(StreamMerger.splitConcatenated(a + b + c) == Seq(a, b, c))
    // the reference's }{ -> },{ splice would corrupt event `a`
  }

  test("splitConcatenated handles whitespace/newlines between objects") {
    assert(StreamMerger.splitConcatenated("{\"a\":1}\n {\"b\":2}") ==
      Seq("{\"a\":1}", "{\"b\":2}"))
    assert(StreamMerger.splitConcatenated("") == Nil)
  }

  test("property: split of concatenated events recovers each event") {
    val jsonStr = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr, Gen.const("}{"), Gen.const("\\"), Gen.const("\"")))
      .map(_.mkString)
    val event = for {
      k <- Gen.alphaNumStr; v <- jsonStr; n <- Gen.choose(0, 999)
    } yield {
      val esc = v.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"$k":"$esc","n":$n}"""
    }
    val prop = Prop.forAll(Gen.listOf(event)) { evs: List[String] =>
      StreamMerger.splitConcatenated(evs.mkString) == evs
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("mergeCompat merges objects into one JSON array and archives inputs") {
    val tmp = Spool.dir("graft-merge")
    val relay = new FileRelay()
    relay.writeUtf8(new Path(s"$tmp/in/p1.json"), """{"a":1}{"a":2}""")
    relay.writeUtf8(new Path(s"$tmp/in/p2.json"), """{"a":3}""")
    val n = StreamMerger.mergeCompat(relay, s"$tmp/in",
      s"$tmp/out/streaming_file.json", s"$tmp/processed")
    assert(n == 3)
    val merged = relay.readUtf8(new Path(s"$tmp/out/streaming_file.json"))
    assert(merged == """[{"a":1},{"a":2},{"a":3}]""")
    assert(relay.list(s"$tmp/in").isEmpty)             // inputs deleted
    assert(relay.list(s"$tmp/processed").size == 2)    // archived copies
  }
}
