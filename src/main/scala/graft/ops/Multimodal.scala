package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
 * processed in batch-shaped per-partition kernels.
 *
 * The decode step is REAL container parsing — fixed-offset byte reads of
 * PNG IHDR, GIF logical-screen-descriptor (+ a bounded block walk for the
 * frame count), and JPEG SOF marker scan — no codec dependency. Payloads
 * the parsers don't recognize fall back to a clearly-marked deterministic
 * fake, counted on the "graft.media.unparsed" accumulator (no silent
 * fallbacks). Synthetic-but-structurally-real containers are emitted by
 * [[synthesize]] (CRC-correct PNG chunks, multi-frame GIF block streams,
 * JPEG marker segments), derived purely from payload content so identical
 * media bytes give identical containers on any engine.
 */
object Multimodal {

  final case class MediaMeta(
      doc_id: Long, byte_len: Int, content_md5: String,
      format: String, width: Int, height: Int, n_frames: Int)

  // ---------------------------------------------------------------------------
  // container synthesis (deterministic, structurally real)
  // ---------------------------------------------------------------------------

  /** Deterministic container dims/format from the CONTENT byte length nb —
    * every term is SQL-expressible (octet_length), so the decode queries
    * have exact DuckDB oracles end-to-end through the binary round-trip:
    * format = nb % 3 (png/gif/jpeg), w = 16 + nb % 240,
    * h = 16 + (nb*7) % 180, frames = 1 + nb % 40 (gif; 1 otherwise). */
  def synthDims(nb: Int): (String, Int, Int, Int) = {
    val fmt = (nb % 3) match { case 0 => "png"; case 1 => "gif"; case _ => "jpeg" }
    val w = 16 + nb % 240
    val h = 16 + (nb * 7) % 180
    val frames = if (fmt == "gif") 1 + nb % 40 else 1
    (fmt, w, h, frames)
  }

  /** A structurally-real container for `content`: PNG (signature + CRC32'd
    * IHDR/IDAT/IEND chunks), animated GIF (LSD + n image-descriptor blocks
    * + trailer), or JPEG (SOI + SOF0 segment + EOI), chosen and sized by
    * [[synthDims]] of the content length. */
  def synthesize(content: Array[Byte]): Array[Byte] = {
    val (fmt, w, h, frames) = synthDims(content.length)
    fmt match {
      case "png"  => synthPng(w, h, content)
      case "gif"  => synthGif(w, h, frames)
      case _      => synthJpeg(w, h)
    }
  }

  private[graft] def u32be(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def u16be(v: Int): Array[Byte] = Array((v >>> 8).toByte, v.toByte)
  private def u16le(v: Int): Array[Byte] = Array(v.toByte, (v >>> 8).toByte)

  /** length + tag + data + CRC32(tag ++ data) — the PNG chunk container
    * (shared with [[graft.kg.Plots]]' encoder). */
  private[graft] def pngChunk(tag: String, data: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32
    val tagB = tag.getBytes("US-ASCII")
    crc.update(tagB); crc.update(data)
    u32be(data.length) ++ tagB ++ data ++ u32be(crc.getValue.toInt)
  }

  /** 8-byte signature, IHDR (13 bytes: w/h big-endian, 8-bit RGBA), an
    * 8-byte IDAT derived from the content head, IEND. 65 bytes total. */
  private def synthPng(w: Int, h: Int, content: Array[Byte]): Array[Byte] = {
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    val ihdr = u32be(w) ++ u32be(h) ++ Array[Byte](8, 6, 0, 0, 0)
    val idat = Array.tabulate(8)(i => if (i < content.length) content(i) else 0x5A.toByte)
    sig ++ pngChunk("IHDR", ihdr) ++ pngChunk("IDAT", idat) ++ pngChunk("IEND", Array.empty)
  }

  /** GIF89a: logical screen descriptor (w/h little-endian, no global color
    * table), `frames` image descriptors each carrying one 1-byte LZW
    * sub-block, trailer. 14 + 14*frames bytes total. */
  private def synthGif(w: Int, h: Int, frames: Int): Array[Byte] = {
    val out = new scala.collection.mutable.ArrayBuffer[Byte](14 + 14 * frames)
    out ++= "GIF89a".getBytes("US-ASCII")
    out ++= u16le(w); out ++= u16le(h)
    out += 0x00; out += 0x00; out += 0x00 // packed (no GCT), bg index, aspect
    var f = 0
    while (f < frames) {
      out += 0x2C // image separator
      out ++= u16le(0); out ++= u16le(0); out ++= u16le(w); out ++= u16le(h)
      out += 0x00       // packed (no local color table)
      out += 0x08       // LZW min code size
      out += 0x01; out += f.toByte // one 1-byte data sub-block
      out += 0x00       // block terminator
      f += 1
    }
    out += 0x3B // trailer
    out.toArray
  }

  /** JPEG marker stream: SOI, SOF0 (len 11: precision, h/w big-endian, one
    * component), EOI. 17 bytes total. */
  private def synthJpeg(w: Int, h: Int): Array[Byte] =
    Array(0xFF, 0xD8, 0xFF, 0xC0).map(_.toByte) ++ u16be(11) ++ Array[Byte](8) ++
      u16be(h) ++ u16be(w) ++ Array[Byte](1, 1, 0x11, 0) ++
      Array(0xFF, 0xD9).map(_.toByte)

  // ---------------------------------------------------------------------------
  // container parsing (fixed-offset byte reads — the REAL decode step)
  // ---------------------------------------------------------------------------

  private def rdU32be(p: Array[Byte], i: Int): Int =
    ((p(i) & 0xFF) << 24) | ((p(i + 1) & 0xFF) << 16) | ((p(i + 2) & 0xFF) << 8) | (p(i + 3) & 0xFF)
  private def rdU16be(p: Array[Byte], i: Int): Int = ((p(i) & 0xFF) << 8) | (p(i + 1) & 0xFF)
  private def rdU16le(p: Array[Byte], i: Int): Int = (p(i) & 0xFF) | ((p(i + 1) & 0xFF) << 8)

  private val pngSig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  /** Parse a container header: `Some((format, width, height, n_frames))`
    * for PNG / GIF / JPEG, `None` for anything unrecognized or truncated.
    * Pure fixed-offset reads; the GIF frame count walks the block stream
    * (each block length-prefixed, so the walk is O(blocks) with no
    * decompression), the JPEG path scans marker segments to SOF. */
  def parseHeader(p: Array[Byte]): Option[(String, Int, Int, Int)] =
    parsePng(p).orElse(parseGif(p)).orElse(parseJpeg(p))

  private def parsePng(p: Array[Byte]): Option[(String, Int, Int, Int)] = {
    if (p.length < 24) return None
    var i = 0
    while (i < 8) { if (p(i) != pngSig(i)) return None; i += 1 }
    // first chunk must be IHDR: length(4) "IHDR"(4) width(4) height(4)
    if (!(p(12) == 'I' && p(13) == 'H' && p(14) == 'D' && p(15) == 'R')) return None
    Some(("png", rdU32be(p, 16), rdU32be(p, 20), 1))
  }

  private def parseGif(p: Array[Byte]): Option[(String, Int, Int, Int)] = {
    if (p.length < 14) return None
    val hdr = new String(p, 0, 6, "US-ASCII")
    if (hdr != "GIF87a" && hdr != "GIF89a") return None
    val w = rdU16le(p, 6)
    val h = rdU16le(p, 8)
    val packed = p(10) & 0xFF
    var pos = 13 + (if ((packed & 0x80) != 0) 3 * (2 << (packed & 0x07)) else 0)
    var frames = 0
    def skipSubBlocks(start: Int): Int = {
      var q = start
      while (q < p.length && (p(q) & 0xFF) != 0) q += 1 + (p(q) & 0xFF)
      q + 1 // past the 0x00 terminator
    }
    while (pos < p.length) {
      (p(pos) & 0xFF) match {
        case 0x2C => // image descriptor
          if (pos + 10 > p.length) return None
          frames += 1
          val ipacked = p(pos + 9) & 0xFF
          pos += 10 + (if ((ipacked & 0x80) != 0) 3 * (2 << (ipacked & 0x07)) else 0)
          pos += 1 // LZW min code size
          pos = skipSubBlocks(pos)
        case 0x21 => // extension: introducer + label, then sub-blocks
          pos = skipSubBlocks(pos + 2)
        case 0x3B => return Some(("gif", w, h, frames)) // trailer
        case _ => return None // malformed block stream
      }
    }
    None // ran off the end without a trailer
  }

  private def parseJpeg(p: Array[Byte]): Option[(String, Int, Int, Int)] = {
    if (p.length < 4 || (p(0) & 0xFF) != 0xFF || (p(1) & 0xFF) != 0xD8) return None
    var pos = 2
    while (pos + 4 <= p.length) {
      if ((p(pos) & 0xFF) != 0xFF) return None
      val marker = p(pos + 1) & 0xFF
      if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7)) pos += 2 // standalone
      else if (marker == 0xD9) return None // EOI before any SOF
      else {
        val segLen = rdU16be(p, pos + 2)
        val isSof = marker >= 0xC0 && marker <= 0xCF &&
          marker != 0xC4 && marker != 0xC8 && marker != 0xCC
        if (isSof) {
          if (pos + 9 > p.length) return None
          return Some(("jpeg", rdU16be(p, pos + 7), rdU16be(p, pos + 5), 1))
        }
        pos += 2 + segLen
      }
    }
    None
  }

  /**
   * FAKE DECODER — retained ONLY as the fallback for containers
   * [[parseHeader]] doesn't recognize: derives stand-in dimensions from
   * stable payload bytes so unknown media still flows through the
   * pipeline (dims are marked by format = "unknown" and counted).
   */
  private def fakeDecode(payload: Array[Byte]): (Int, Int, Int) = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < math.min(payload.length, 64)) { h ^= payload(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    val width = 160 + ((h & 0x7fffffff) % 8).toInt * 80
    val height = 120 + (((h >>> 16) & 0x7fffffff) % 8).toInt * 60
    val frames = 1 + (((h >>> 32) & 0x7fffffff) % 30).toInt
    (width, height, frames)
  }

  // ---------------------------------------------------------------------------
  // tables + batch kernels
  // ---------------------------------------------------------------------------

  /** Raw binary-payload table from documents (payload = UTF-8 bytes of
    * text — the opaque-binary plumbing table: byte lengths, digests). */
  def mediaTable(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("text").cast("binary").as("payload"))

  /** Media table of structurally-REAL containers: each document's content
    * bytes wrapped in the deterministic PNG/GIF/JPEG of [[synthesize]].
    * Identical content gives identical containers (format/dims derive from
    * content alone), so binary-level dedup and the ANN bridge behave like
    * they would over a crawled media corpus. */
  def mediaTableSynth(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        (id, synthesize(text.getBytes("UTF-8")))
      }).toDF("doc_id", "payload")
  }

  /** Pure binary metadata — byte length + content digest; no decode at
    * all (the metadata an object-store manifest carries). */
  def binaryMeta(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5") // per-batch setup
        it.map { case (id, payload) =>
          digest.reset()
          (id, payload.length, digest.digest(payload).map("%02x".format(_)).mkString)
        }
      }.toDF("doc_id", "byte_len", "content_md5")
  }

  /** Feature extraction over binary payloads: batch-shaped per-partition
    * kernel (digest + parser setup once per partition, like a Pandas-UDF
    * batch). Dims come from the REAL header parse; unrecognized containers
    * take the fake-decode fallback with format = "unknown", counted on the
    * `graft.media.unparsed` accumulator. */
  def extractMeta(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    val unparsed = graft.Counters(spark, "graft.media.unparsed")
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5") // per-batch setup
        it.map { case (id, payload) =>
          digest.reset()
          val md5hex = digest.digest(payload).map("%02x".format(_)).mkString
          parseHeader(payload) match {
            case Some((fmt, w, h, f)) =>
              MediaMeta(id, payload.length, md5hex, fmt, w, h, f)
            case None =>
              unparsed.add(1)
              val (w, h, f) = fakeDecode(payload)
              MediaMeta(id, payload.length, md5hex, "unknown", w, h, f)
          }
        }
      }.toDF()
  }

  /** Deterministic frame sampling: every `stride`-th frame index, exploded
    * to one row per sampled frame (UDTF/generator shape). */
  def sampleFrames(meta: DataFrame, stride: Int = 10): DataFrame =
    meta.select(col("doc_id"), col("n_frames"),
      explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))

  /** Aspect-preserving resize PLANNING (the letterbox math every image
    * preprocessing pipeline runs before the pixel op): scale =
    * min(maxW/w, maxH/h) capped at 1.0 (never upscale), output dims
    * floored. Pure codegen'd projection; the pixel resample itself is the
    * codec-side stub. */
  def resizePlan(meta: DataFrame, maxW: Int = 224, maxH: Int = 224): DataFrame = {
    val scale = least(
      lit(maxW.toDouble) / col("width").cast("double"),
      lit(maxH.toDouble) / col("height").cast("double"),
      lit(1.0))
    meta.select(col("doc_id"), col("width"), col("height"),
      round(scale, 6).as("scale"),
      floor(col("width") * scale).cast("int").as("out_w"),
      floor(col("height") * scale).cast("int").as("out_h"))
  }

  /** The decoded payload BYTES of one frame — the per-frame content the
    * feature extractor runs over, produced by the same real container
    * walks as [[parseHeader]]:
    *  - PNG: the IDAT chunk data (chunk walk from offset 8);
    *  - GIF: image `frameIdx`'s LZW data sub-blocks, concatenated (block
    *    walk, extensions skipped);
    *  - JPEG: the SOF segment payload (marker scan);
    *  - anything unrecognized/truncated: empty (the counted-fallback
    *    contract of [[extractMeta]]). */
  def frameData(p: Array[Byte], frameIdx: Int): Array[Byte] = {
    if (parsePng(p).isDefined) {
      var pos = 8 // chunk layout: length(4) tag(4) data(length) crc(4)
      while (pos + 8 <= p.length) {
        val len = rdU32be(p, pos)
        // parsePng validates only signature+IHDR; a corrupt/hostile chunk
        // length must not walk out of bounds (or overflow Int) here
        if (len < 0 || pos.toLong + 12L + len > p.length) return Array.empty
        if (p(pos + 4) == 'I' && p(pos + 5) == 'D' && p(pos + 6) == 'A' && p(pos + 7) == 'T')
          return java.util.Arrays.copyOfRange(p, pos + 8, pos + 8 + len)
        pos += 12 + len
      }
      Array.empty
    } else if (parseGif(p).isDefined) {
      val packed = p(10) & 0xFF
      var pos = 13 + (if ((packed & 0x80) != 0) 3 * (2 << (packed & 0x07)) else 0)
      var img = 0
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      while (pos < p.length) {
        (p(pos) & 0xFF) match {
          case 0x2C => // image descriptor
            val ipacked = p(pos + 9) & 0xFF
            pos += 10 + (if ((ipacked & 0x80) != 0) 3 * (2 << (ipacked & 0x07)) else 0)
            pos += 1 // LZW min code size
            val take = img == frameIdx
            while (pos < p.length && (p(pos) & 0xFF) != 0) {
              val bl = p(pos) & 0xFF
              if (take) out ++= p.slice(pos + 1, math.min(pos + 1 + bl, p.length))
              pos += 1 + bl
            }
            pos += 1 // block terminator
            if (take) return out.toArray
            img += 1
          case 0x21 => // extension: introducer + label, then sub-blocks
            pos += 2
            while (pos < p.length && (p(pos) & 0xFF) != 0) pos += 1 + (p(pos) & 0xFF)
            pos += 1
          case _ => return Array.empty // trailer before frameIdx, or malformed
        }
      }
      Array.empty
    } else if (parseJpeg(p).isDefined) {
      var pos = 2
      while (pos + 4 <= p.length) {
        val marker = p(pos + 1) & 0xFF
        if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7)) pos += 2
        else {
          val segLen = rdU16be(p, pos + 2)
          val isSof = marker >= 0xC0 && marker <= 0xCF &&
            marker != 0xC4 && marker != 0xC8 && marker != 0xCC
          if (isSof) // payload after the 2-byte length field
            return java.util.Arrays.copyOfRange(p, pos + 4, math.min(pos + 2 + segLen, p.length))
          pos += 2 + segLen
        }
      }
      Array.empty
    } else Array.empty
  }

  /** Per-frame feature extraction over DECODED CONTENT: the vector is the
    * parsed container dims followed by the frame's decoded payload bytes
    * ([[frameData]] — IDAT data for PNG, the frame's LZW sub-blocks for
    * GIF, the SOF payload for JPEG), zero-padded/truncated to `dim`. A
    * real CNN swaps ONLY the bytes→vector map; the batch-shaped kernel,
    * schema (`array<float>` + ids) and downstream compatibility with the
    * Similarity ANN operators are unchanged. Every component derives from
    * content bytes, so the DuckDB oracle recomputes the vectors exactly,
    * and identical payloads yield identical features (multimodal near-dups
    * surface through [[graft.ops.Similarity.annCandidatePairs]]). */
  def frameFeatures(spark: SparkSession, frames: DataFrame, media: DataFrame,
      dim: Int = 16): DataFrame = {
    import spark.implicits._
    frames.select(col("doc_id"), col("frame_idx"))
      .join(media.select(col("doc_id"), col("payload")), Seq("doc_id"))
      .select(col("doc_id"), col("frame_idx"), col("payload"))
      .as[(Long, Int, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, frame, payload) =>
          val (w, h) = parseHeader(payload)
            .map { case (_, pw, ph, _) => (pw, ph) }.getOrElse((0, 0))
          val fb = frameData(payload, frame)
          val emb = new Array[Float](dim)
          emb(0) = w.toFloat
          emb(1) = h.toFloat
          var i = 0
          while (i < fb.length && i + 2 < dim) { emb(i + 2) = (fb(i) & 0xFF).toFloat; i += 1 }
          (id, frame, emb)
        }
      }.toDF("doc_id", "frame_idx", "embedding")
  }
}
