package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.Spool

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("PPM round-trip: encode P6 bytes, parse width/height/maxval back") {
    val pixels = Array.tabulate(4 * 3 * 3)(i => (i % 251).toByte)
    val ppm = Multimodal.encodePpm(4, 3, pixels)
    assert(new String(ppm.take(11), "US-ASCII") == "P6\n4 3\n255\n")
    val m = Multimodal.parseMeta(7L, ppm)
    assert(m == Multimodal.MediaMeta(7L, "ppm", ppm.length.toLong, 4L, 3L, 255L))
  }

  test("WAV round-trip: encode canonical RIFF header, parse fmt fields back") {
    val data = Array.tabulate(6 * 2 * 2)(_.toByte) // 6 frames, 2ch, 16-bit
    val wav = Multimodal.encodeWav(2, 44100, 16, data)
    assert(wav.length == 44 + data.length)
    val m = Multimodal.parseMeta(9L, wav)
    assert(m == Multimodal.MediaMeta(9L, "wav", wav.length.toLong, 2L, 44100L, 16L))
  }

  test("corrupt or truncated containers parse as raw, never as a plausible lie") {
    // truncated PPM: header claims 4x3 pixels, payload has fewer
    val short = Multimodal.encodePpm(4, 3, new Array[Byte](36)).dropRight(5)
    assert(Multimodal.parseMeta(1L, short).codec == "raw")
    // WAV with a lying data-chunk length
    val wav = Multimodal.encodeWav(1, 8000, 8, new Array[Byte](4))
    wav(40) = 99.toByte
    assert(Multimodal.parseMeta(2L, wav).codec == "raw")
    // plain text
    val t = Multimodal.parseMeta(3L, "hello".getBytes("UTF-8"))
    assert(t == Multimodal.MediaMeta(3L, "raw", 5L, 5L, 0L, 0L))
    // a dimension too long for Long must degrade, not throw
    val huge = "P6\n99999999999999999999 1\n255\nxyz".getBytes("US-ASCII")
    assert(Multimodal.parseMeta(4L, huge).codec == "raw")
  }

  test("decodeFeatures: distributed parse over real encoded payloads matches per-row parse") {
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val meta = Multimodal.decodeFeatures(Multimodal.encodeMedia(docs))
    assert(meta.columns.toSeq == Seq("media_id", "codec", "nBytes", "d1", "d2", "d3"))
    assert(meta.count() == docs.count())
    // every doc_id%3==1 payload parsed as ppm with the derived geometry
    val ppm = meta.filter(col("codec") === "ppm").collect()
    assert(ppm.nonEmpty)
    ppm.foreach { r =>
      val id = r.getLong(0)
      assert(id % 3 == 1)
      assert(r.getLong(3) == 1 + id % 7) // width
      assert(r.getLong(4) == 1 + id % 5) // height
    }
    assert(meta.filter(col("codec") === "wav").count() > 0)
  }

  test("mediaTable: payload bytes match the source text length") {
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val bad = Multimodal.mediaTable(docs)
      .join(docs, col("media_id") === col("doc_id"))
      .filter(octet_length(col("payload")) =!= length(col("text")))
      .count()
    assert(bad == 0) // fixture text is ascii: 1 byte per char
  }

  test("resizePpm: nearest-neighbor to target dims, valid container out") {
    val pixels = Array.tabulate(6 * 4 * 3)(i => (i % 251).toByte)
    val ppm = Multimodal.encodePpm(6, 4, pixels)
    val small = Multimodal.resizePpm(ppm, 3, 2).get
    val meta = Multimodal.parseMeta(0L, small)
    assert(meta.codec == "ppm" && meta.d1 == 3 && meta.d2 == 2)
    // nearest-neighbor: output pixel (0,0) is source pixel (0,0), and
    // (x,y) maps to (x*w/tw, y*h/th) — spot-check the corner pixels
    val off = small.length - 3 * 2 * 3
    val srcOff = ppm.length - 6 * 4 * 3
    assert(small(off) == ppm(srcOff))                       // (0,0) <- (0,0)
    assert(small(off + (1 * 3 + 2) * 3) ==                  // (2,1) <- (4,2)
      ppm(srcOff + (2 * 6 + 4) * 3))
    // upscale works too (pure index math, no interpolation state)
    val big = Multimodal.resizePpm(ppm, 12, 8).get
    assert(Multimodal.parseMeta(0L, big).d1 == 12)
    // non-PPM input refuses rather than emitting garbage
    assert(Multimodal.resizePpm("not an image".getBytes, 2, 2).isEmpty)
  }

  test("sampleWavFrames: every k-th frame kept, rate divided, container valid") {
    val data = Array.tabulate(10 * 2)(i => i.toByte) // 10 frames, 2 bytes each
    val wav = Multimodal.encodeWav(1, 8000, 16, data)
    val sampled = Multimodal.sampleWavFrames(wav, 3).get
    val meta = Multimodal.parseMeta(0L, sampled)
    assert(meta.codec == "wav" && meta.d2 == 8000 / 3)
    // frames 0, 3, 6, 9 kept
    val out = sampled.drop(44)
    assert(out.length == 4 * 2)
    assert(out(0) == data(0) && out(2) == data(6) &&
      out(4) == data(12) && out(6) == data(18))
    assert(Multimodal.sampleWavFrames("nope".getBytes, 2).isEmpty)
  }

  test("transformMedia: distributed resize + frame-sample over the media table") {
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val media = Multimodal.encodeMedia(docs)
    val out = Multimodal.transformMedia(media, tw = 2, th = 2, stride = 2)
    assert(out.count() == media.count()) // nothing vanishes
    val meta = Multimodal.decodeFeatures(out)
    // every image is now 2x2; every audio payload still parses as wav
    meta.filter(col("codec") === "ppm").collect().foreach { r =>
      assert(r.getLong(3) == 2 && r.getLong(4) == 2)
    }
    assert(meta.filter(col("codec") === "wav").count() ==
      Multimodal.decodeFeatures(media).filter(col("codec") === "wav").count())
  }

  test("binaryObjects reads opaque files with path + length + content") {
    val tmp = java.nio.file.Paths.get(Spool.dir("graft-bin"))
    java.nio.file.Files.write(tmp.resolve("a.bin"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(tmp.resolve("b.bin"), Array[Byte](4, 5))
    val df = Multimodal.binaryObjects(spark, tmp.toString)
    assert(df.count() == 2)
    val lens = df.select("length").collect().map(_.getLong(0)).sorted
    assert(lens.toSeq == Seq(2L, 3L))
  }
}
