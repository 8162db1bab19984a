package graft.kg

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Multimodal

/** Container synthesis ↔ header-parse round trip, the unknown-container
  * fallback accounting, and structural validity of the synth formats. */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("synthesize → parseHeader round-trips format, dims and frame count") {
    // content lengths hitting each format arm (n % 3) and frame counts
    (1 to 200).foreach { n =>
      val content = Array.tabulate(n)(i => (i % 251).toByte)
      val (fmt, w, h, frames) = Multimodal.synthDims(n)
      val parsed = Multimodal.parseHeader(Multimodal.synthesize(content))
      assert(parsed === Some((fmt, w, h, frames)), s"content length $n")
    }
  }

  test("PNG parse reads IHDR big-endian at fixed offsets (16-bit+ dims)") {
    // dims beyond one byte exercise true 32-bit big-endian reads
    val content = Array.fill(3)(0x41.toByte) // n=3 → png arm
    val png = Multimodal.synthesize(content)
    assert(Multimodal.parseHeader(png).get._1 === "png")
    // corrupt the IHDR tag → unknown
    val bad = png.clone(); bad(12) = 'X'.toByte
    assert(Multimodal.parseHeader(bad) === None)
  }

  test("GIF block walk counts image descriptors and survives extensions") {
    val content = Array.fill(43)(0x42.toByte) // 43 % 3 = 1 → gif, frames = 1 + 43 % 40 = 4
    val gif = Multimodal.synthesize(content)
    assert(Multimodal.parseHeader(gif) === Some(("gif", 16 + 43 % 240, 16 + (43 * 7) % 180, 4)))
    // splice a graphic-control extension (0x21 F9, 4-byte sub-block, 0x00)
    // before the first image descriptor: frame count must be unchanged
    val hdr = gif.take(13)
    val rest = gif.drop(13)
    val ext = Array(0x21, 0xF9, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00).map(_.toByte)
    assert(Multimodal.parseHeader(hdr ++ ext ++ rest) ===
      Some(("gif", 16 + 43 % 240, 16 + (43 * 7) % 180, 4)))
    // truncate mid-stream (no trailer) → malformed → None
    assert(Multimodal.parseHeader(gif.dropRight(1)) === None)
  }

  test("JPEG marker scan skips non-SOF segments to find SOF dims") {
    val content = Array.fill(5)(0x43.toByte) // 5 % 3 = 2 → jpeg
    val jpg = Multimodal.synthesize(content)
    val (fmt, w, h, _) = Multimodal.synthDims(5)
    assert(Multimodal.parseHeader(jpg) === Some(("jpeg", w, h, 1)))
    // splice an APP0 segment after SOI: scan must skip it and still hit SOF
    val app0 = Array(0xFF, 0xE0, 0x00, 0x06, 0x4A, 0x46, 0x49, 0x46).map(_.toByte)
    val withApp0 = jpg.take(2) ++ app0 ++ jpg.drop(2)
    assert(Multimodal.parseHeader(withApp0) === Some(("jpeg", w, h, 1)))
  }

  test("frameData walks each container to the frame's decoded payload bytes") {
    // PNG: IDAT data = first 8 content bytes, padded with 0x5A
    val short = "abc".getBytes("US-ASCII") // n=3 → png arm
    assert(Multimodal.frameData(Multimodal.synthesize(short), 0).toSeq ===
      ("abc".getBytes("US-ASCII") ++ Array.fill(5)(0x5A.toByte)).toSeq)
    val png9 = "abcdefghi".getBytes("US-ASCII") // 9 % 3 = 0 → png, truncates to 8
    assert(Multimodal.frameData(Multimodal.synthesize(png9), 0).toSeq ===
      "abcdefgh".getBytes("US-ASCII").toSeq)
    // GIF: image f's single data sub-block carries the byte f
    val gifContent = Array.fill(43)(0x42.toByte) // 4 frames
    val gif = Multimodal.synthesize(gifContent)
    (0 until 4).foreach { f =>
      assert(Multimodal.frameData(gif, f).toSeq === Seq(f.toByte), s"frame $f")
    }
    // an extension before the images must not shift the frame indexing
    val ext = Array(0x21, 0xF9, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00).map(_.toByte)
    val gifExt = gif.take(13) ++ ext ++ gif.drop(13)
    assert(Multimodal.frameData(gifExt, 2).toSeq === Seq(2.toByte))
    // out-of-range frame → empty
    assert(Multimodal.frameData(gif, 9).isEmpty)
    // JPEG: SOF segment payload = [precision, h_hi, h_lo, w_hi, w_lo, 1, 1, 0x11, 0]
    val jc = Array.fill(5)(0x43.toByte)
    val (_, w, h, _) = Multimodal.synthDims(5)
    assert(Multimodal.frameData(Multimodal.synthesize(jc), 0).toSeq ===
      Seq(8, h >> 8, h & 0xFF, w >> 8, w & 0xFF, 1, 1, 0x11, 0).map(_.toByte))
    // unknown container → empty (counted upstream)
    assert(Multimodal.frameData("not a container".getBytes("US-ASCII"), 0).isEmpty)
  }

  test("parseHeader/frameData never throw on arbitrary bytes (fuzz, seeded)") {
    val rng = new java.util.Random(4242L)
    // pure random payloads + random-corrupted valid containers: the
    // parsers must return None/empty or a value, never throw (the walk
    // guards validate chunk/segment lengths the header checks don't)
    (1 to 400).foreach { i =>
      val p = new Array[Byte](rng.nextInt(120))
      rng.nextBytes(p)
      Multimodal.parseHeader(p)
      Multimodal.frameData(p, rng.nextInt(4))
    }
    (1 to 400).foreach { i =>
      val content = Array.tabulate(1 + rng.nextInt(80))(j => (j % 251).toByte)
      val c = Multimodal.synthesize(content)
      // flip 1-3 random bytes of a valid container
      (0 to rng.nextInt(3)).foreach { _ =>
        c(rng.nextInt(c.length)) = (rng.nextInt(256) - 128).toByte
      }
      Multimodal.parseHeader(c)
      Multimodal.frameData(c, rng.nextInt(4))
    }
    succeed
  }

  test("unknown containers take the counted fake-decode fallback") {
    val docs = Seq((1L, "plain text, not a container", "en"),
      (2L, "also not a container", "en")).toDF("doc_id", "text", "lang")
    val unparsed = graft.Counters(spark, "graft.media.unparsed")
    val before = unparsed.value
    val meta = Multimodal.extractMeta(spark, Multimodal.mediaTable(docs))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(meta === Map(1L -> "unknown", 2L -> "unknown"))
    assert(unparsed.value - before === 2L, "every fallback decode must be counted")
    // and the synth table over the same docs parses cleanly: zero fallbacks
    val before2 = unparsed.value
    val real = Multimodal.extractMeta(spark, Multimodal.mediaTableSynth(docs)).collect()
    assert(real.forall(_.getString(3) != "unknown"))
    assert(unparsed.value - before2 === 0L)
  }
}
