package graft.multimodal

import graft.operators.Materialize.Pinning

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media as opaque `binary` columns with
  * typed metadata, processed in partition-sized batches.
  *
  * Round 2: the decode step is REAL for everything a JVM can decode
  * without native libraries — BMP and PGM/PPM images and WAV PCM audio
  * via hand parsers (header + pixels/samples, incl. pixel-level
  * nearest-neighbor resize and PCM amplitude stats), PNG / GIF /
  * JPEG via the JDK's own ImageIO codecs, including animated-GIF frame
  * counts and per-frame extraction ([[sampleFrameStats]]), and VIDEO
  * via a hand RIFF/AVI container parser — MJPEG AVIs decode fully
  * (header dims/frame counts + every `##dc` chunk is a complete JPEG
  * for the per-frame pipeline). Only genuinely codec-requiring
  * containers (MP4/H.264 — the JDK has no such codec) fall back to a
  * clearly-flagged deterministic synthetic decode (`realDecode=false`)
  * so downstream plumbing still exercises.
  * Everything around the parse — schema, batch shape, partitioning,
  * null-safety — is the Spark plumbing any codec drops into: the
  * decoder runs per partition (one instance per task, the Scala analog
  * of a `mapInPandas` batch UDF), and the output is a flat typed frame
  * that joins/filters like any other.
  */
/** Pluggable video/container codec hook. The JDK ships no MP4/H.264
  * codec, so graft's default chain decodes what a bare JVM can (MJPEG
  * AVIs — [[Multimodal.MjpegAviDecoder]]) and reports everything else as
  * the flagged synthetic fallback (`realDecode=false`). A deployment
  * with a real codec (e.g. a JavaCV/FFmpeg binding) registers it by
  * passing `decoders = MjpegAviDecoder +: Seq(myMp4Decoder)` to
  * [[Multimodal.decodeMeta]]/[[Multimodal.sampleFrameStats]] — bytes a
  * registered decoder `accepts` are probed by THAT decoder first; only
  * when its `probe` then returns None (accepted container, undecodable
  * payload) do they fall through to the ImageIO/synthetic chain, which
  * reports them as the flagged fallback rather than failing the row.
  * Implementations must be serializable (they ride in task closures)
  * and stateless or cheaply re-usable per partition. */
trait FrameDecoder extends Serializable {
  def name: String

  /** Cheap container sniff — called per row; must not throw. */
  def accepts(bytes: Array[Byte]): Boolean

  /** (width, height, nFrames), or None when the bytes turn out to be
    * undecodable after all (then the flagged fallback applies). */
  def probe(bytes: Array[Byte]): Option[(Int, Int, Int)]

  /** Every `stride`-th frame as (frameIdx, width, height,
    * meanIntensity). */
  def frames(bytes: Array[Byte], stride: Int): Seq[(Int, Int, Int, Double)]
}

object Multimodal {

  case class MediaMeta(
      id: Long,
      kind: String,
      byteLen: Int,
      sha: String,
      width: Int,      // images: pixels; audio: 0
      height: Int,     // images: pixels; audio: 0
      nFrames: Int,    // images: 1; audio: 1; video fallback: synthetic
      sampleRate: Int, // audio: Hz; images: 0
      nSamples: Long,  // audio: PCM frames; images: 0
      realDecode: Boolean)

  // ---- real parsers (pure JVM, no codec libs) ---------------------------

  private def i32le(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def i16le(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** BMP (BITMAPINFOHEADER): width/height from the header; height may be
    * negative for top-down rows. */
  private[multimodal] def parseBmp(b: Array[Byte]): Option[(Int, Int)] =
    if (b.length >= 26 && b(0) == 'B' && b(1) == 'M')
      Some((i32le(b, 18), math.abs(i32le(b, 22))))
    else None

  /** Netpbm P5 (gray) / P6 (rgb) binary header: magic, whitespace and
    * `#` comments, then width height maxval. Returns
    * (width, height, channels, pixelOffset). */
  private[multimodal] def parsePnm(b: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (b.length < 2 || b(0) != 'P' || (b(1) != '5' && b(1) != '6')) return None
    val channels = if (b(1) == '6') 3 else 1
    var i = 2
    val fields = new scala.collection.mutable.ArrayBuffer[Int](3)
    while (fields.length < 3 && i < b.length) {
      while (i < b.length && (b(i).toChar.isWhitespace || b(i) == '#'))
        if (b(i) == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else i += 1
      var v = 0; var any = false
      while (i < b.length && b(i).toChar.isDigit) {
        v = v * 10 + (b(i) - '0'); i += 1; any = true
      }
      if (!any) return None
      fields += v
    }
    if (fields.length < 3) return None
    i += 1 // the single whitespace byte after maxval
    Some((fields(0), fields(1), channels, i))
  }

  /** RIFF/WAVE PCM: walk chunks for fmt (rate, channels, bits) and data
    * (byte length). Returns (sampleRate, channels, bitsPerSample,
    * dataOffset, dataLen). */
  private[multimodal] def parseWav(b: Array[Byte]): Option[(Int, Int, Int, Int, Int)] = {
    if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return None
    // Same Long-offset / uint32-size discipline as [[parseAvi]]: a
    // corrupt size field read as signed Int can make the offset stall
    // (sz = -8 advances by 0: infinite loop) or overflow negative
    // (index exception) — corpus bytes are untrusted, so bail instead.
    var i = 12L
    var rate = 0; var channels = 0; var bits = 0
    var dataOff = -1; var dataLen = 0
    while (i + 8 <= b.length) {
      val ii = i.toInt
      val id = new String(b, ii, 4, "US-ASCII")
      val sz = i32le(b, ii + 4).toLong & 0xffffffffL
      if (id == "fmt " && i + 24 <= b.length) {
        channels = i16le(b, ii + 10)
        rate = i32le(b, ii + 12)
        bits = i16le(b, ii + 22)
      } else if (id == "data") {
        dataOff = ii + 8
        dataLen = math.min(sz, (b.length - dataOff).toLong).toInt
      }
      val next = i + 8 + sz + (sz & 1) // chunks are word-aligned
      if (next <= i) return None // corrupt size: chunk must strictly advance
      i = next
    }
    if (rate > 0 && channels > 0 && bits > 0 && dataOff >= 0)
      Some((rate, channels, bits, dataOff, dataLen))
    else None
  }

  private def fourcc(b: Array[Byte], off: Int, s: String): Boolean =
    off + 4 <= b.length && b(off) == s(0).toByte && b(off + 1) == s(1).toByte &&
      b(off + 2) == s(2).toByte && b(off + 3) == s(3).toByte

  /** AVI (RIFF 'AVI ') container: walk LIST chunks for the `avih` main
    * header — (dwWidth, dwHeight, dwTotalFrames) at byte offsets
    * 32/36/16 of its body. This is the REAL video-container parse for
    * MJPEG AVIs (each movi chunk is a complete JPEG the JDK can
    * decode); codec-requiring containers (MP4/H.264) stay on the
    * flagged synthetic fallback. */
  /** Max LIST nesting honored by the RIFF walks: legit AVIs nest 2-3
    * deep (hdrl/strl, movi/rec ); deeper is corrupt or adversarial, and
    * an unbounded recursion would be a StackOverflowError — an Error no
    * decode-side `catch Exception` can contain. */
  private val MaxRiffDepth = 16

  private[multimodal] def parseAvi(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (b.length < 24 || !fourcc(b, 0, "RIFF") || !fourcc(b, 8, "AVI ")) return None
    var result: Option[(Int, Int, Int)] = None
    // chunk offsets advance in Long: a corrupt uint32 size field would
    // overflow Int (body + sz < 0) and turn the bounds guard into a
    // negative array index
    def walk(start: Long, end: Long, depth: Int): Unit = {
      if (depth > MaxRiffDepth) return
      var i = start
      while (i + 8 <= end && result.isEmpty) {
        val sz = i32le(b, i.toInt + 4).toLong & 0xffffffffL
        val body = i + 8
        if (fourcc(b, i.toInt, "LIST") && body + 4 <= end)
          walk(body + 4, math.min(body + sz, end), depth + 1)
        else if (fourcc(b, i.toInt, "avih") && body + 40 <= end)
          result = Some((i32le(b, body.toInt + 32), i32le(b, body.toInt + 36),
            math.max(i32le(b, body.toInt + 16), 1)))
        i = body + sz + (sz & 1)
      }
    }
    walk(12, b.length, 0)
    result
  }

  /** The compressed video-data chunk payloads of an AVI's `movi` list,
    * in stream order: `##dc` chunks only — in MJPEG each is a complete
    * JPEG the downstream ImageIO step can decode. (`##db` uncompressed
    * DIB chunks are deliberately NOT collected: raw DIB bytes lack the
    * BMP file header ImageIO needs, so returning them would only make
    * frames vanish silently at the decode step.) Empty for non-AVI
    * bytes. Same Long-offset / bounded-depth discipline as
    * [[parseAvi]]. */
  private[multimodal] def aviFrames(b: Array[Byte]): Seq[Array[Byte]] = {
    if (parseAvi(b).isEmpty) return Nil
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def isFrameChunk(off: Int): Boolean =
      off + 4 <= b.length &&
        b(off).toChar.isDigit && b(off + 1).toChar.isDigit &&
        b(off + 2) == 'd' && b(off + 3) == 'c'
    def walk(start: Long, end: Long, inMovi: Boolean, depth: Int): Unit = {
      if (depth > MaxRiffDepth) return
      var i = start
      while (i + 8 <= end) {
        val sz = i32le(b, i.toInt + 4).toLong & 0xffffffffL
        val body = i + 8
        val bodyEnd = math.min(body + sz, end)
        if (fourcc(b, i.toInt, "LIST") && body + 4 <= end) {
          val listType = inMovi ||
            fourcc(b, body.toInt, "movi") || fourcc(b, body.toInt, "rec ")
          walk(body + 4, bodyEnd, listType, depth + 1)
        } else if (inMovi && isFrameChunk(i.toInt) && bodyEnd > body)
          frames += java.util.Arrays.copyOfRange(b, body.toInt, bodyEnd.toInt)
        i = body + sz + (sz & 1)
      }
    }
    walk(12, b.length, inMovi = false, 0)
    frames.toSeq
  }

  /** JDK ImageIO decode — REAL codecs for PNG/GIF/JPEG/BMP ship in the
    * JVM itself (no native libs, headless-safe), so these formats do
    * not need the synthetic fallback. `getNumImages(true)` counts
    * animated-GIF frames, which upgrades [[sampleFrames]] to real frame
    * counts. Returns (width, height, nFrames). */
  private[multimodal] def parseImageIO(b: Array[Byte]): Option[(Int, Int, Int)] = {
    if (b.isEmpty) return None
    val in = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(b))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) return None
      val r = readers.next()
      try {
        r.setInput(in)
        val n = r.getNumImages(true)
        Some((r.getWidth(0), r.getHeight(0), math.max(n, 1)))
      } finally r.dispose()
    } catch { case _: Exception => None } finally in.close()
  }

  /** The default [[FrameDecoder]]: MJPEG-in-AVI via the hand RIFF
    * parser, each sampled `##dc` chunk one complete JPEG decoded through
    * the JDK's own codec. Deterministic: integer pixel sums, one double
    * division per frame. */
  object MjpegAviDecoder extends FrameDecoder {
    val name = "mjpeg-avi"
    override def accepts(b: Array[Byte]): Boolean =
      b.length >= 12 && fourcc(b, 0, "RIFF") && fourcc(b, 8, "AVI ")
    override def probe(b: Array[Byte]): Option[(Int, Int, Int)] = parseAvi(b)
    override def frames(b: Array[Byte], stride: Int): Seq[(Int, Int, Int, Double)] =
      aviFrames(b).zipWithIndex
        .collect { case (fb, idx) if idx % stride == 0 =>
          imageFrameStats(fb, 1).headOption.map { case (_, w, h, m) =>
            (idx, w, h, m)
          }
        }.flatten
  }

  /** The decoders a bare JVM supports. Deployments append real codec
    * bindings (MP4/H.264 etc.) — see [[FrameDecoder]]. */
  val DefaultDecoders: Seq[FrameDecoder] = Seq(MjpegAviDecoder)

  /** Real frame extraction + feature step: the first accepting
    * [[FrameDecoder]] wins; bytes no decoder claims go through the
    * multi-frame ImageIO path (animated GIF; per-frame RASTER stats,
    * not composited). */
  private[multimodal] def frameStats(b: Array[Byte], stride: Int,
      decoders: Seq[FrameDecoder] = DefaultDecoders):
      Seq[(Int, Int, Int, Double)] = {
    require(stride > 0, "stride must be positive")
    decoders.find(_.accepts(b)) match {
      case Some(d) => d.frames(b, stride)
      case None => imageFrameStats(b, stride)
    }
  }

  private def imageFrameStats(b: Array[Byte], stride: Int):
      Seq[(Int, Int, Int, Double)] = {
    if (b.isEmpty) return Nil
    val in = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(b))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) return Nil
      val r = readers.next()
      try {
        r.setInput(in)
        val n = math.max(r.getNumImages(true), 1)
        // per-frame try: a truncated/corrupt frame drops only itself —
        // the decoded prefix of a damaged file is still real data, and
        // must stay distinguishable from "no JDK codec accepts this"
        (0 until n by stride).flatMap { idx =>
          try {
            val img = r.read(idx)
            val (w, h) = (img.getWidth, img.getHeight)
            var sum = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
                x += 1
              }
              y += 1
            }
            Some((idx, w, h, sum.toDouble / (3.0 * w * h)))
          } catch { case _: Exception => None }
        }
      } finally r.dispose()
    } catch { case _: Exception => Nil } finally in.close()
  }

  case class FrameStat(id: Long, frameIdx: Int, width: Int, height: Int,
                       meanIntensity: Double)

  /** Distributed frame sampling WITH extraction: one ImageIO pass per
    * row inside a partition task (the mapInPandas batch shape), no
    * shuffle. Rows whose bytes no JDK codec accepts yield no frames —
    * the honest behavior for genuinely un-decodable media (MP4 etc.,
    * which the JDK has no codec for). */
  def sampleFrameStats(df: DataFrame, idCol: String, binCol: String,
                       stride: Int,
                       decoders: Seq[FrameDecoder] = DefaultDecoders): Dataset[FrameStat] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val b = if (bytes == null) Array.empty[Byte] else bytes
        frameStats(b, stride, decoders).map { case (i, w, h, m) =>
          FrameStat(id, i, w, h, m)
        }
      })
  }

  private def syntheticDims(bytes: Array[Byte], kind: String): (Int, Int, Int) = {
    val h = java.util.Arrays.hashCode(bytes)
    val w = 64 + math.abs(h % 1024)
    val ht = 64 + math.abs((h / 1024) % 1024)
    val frames = if (kind == "video") 1 + math.abs(h % 300) else 1
    (w, ht, frames)
  }

  /** Decode + feature-extract a binary media column. Input columns:
    * (idCol: long, binCol: binary, kindCol: string). One decoder pass per
    * partition; no shuffle. */
  def decodeMeta(df: DataFrame, idCol: String, binCol: String,
                 kindCol: String,
                 decoders: Seq[FrameDecoder] = DefaultDecoders): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol), col(kindCol))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("SHA-256")
        it.map { case (id, bytes, kind) =>
          val b = if (bytes == null) Array.empty[Byte] else bytes
          val sha = digest.digest(b).map("%02x".format(_)).mkString
          digest.reset()
          parseBmp(b).map { case (w, h) =>
            MediaMeta(id, kind, b.length, sha, w, h, 1, 0, 0L, realDecode = true)
          }.orElse(parsePnm(b).map { case (w, h, _, _) =>
            MediaMeta(id, kind, b.length, sha, w, h, 1, 0, 0L, realDecode = true)
          }).orElse(parseWav(b).map { case (rate, ch, bits, _, dataLen) =>
            MediaMeta(id, kind, b.length, sha, 0, 0, 1, rate,
              dataLen.toLong / (ch * bits / 8), realDecode = true)
          }).orElse(decoders.find(_.accepts(b)).flatMap(_.probe(b))
            .map { case (w, h, nf) =>
              MediaMeta(id, kind, b.length, sha, w, h, nf, 0, 0L, realDecode = true)
            })
          .orElse(parseImageIO(b).map { case (w, h, nf) =>
            MediaMeta(id, kind, b.length, sha, w, h, nf, 0, 0L, realDecode = true)
          }).getOrElse {
            val (w, h, f) = syntheticDims(b, kind)
            MediaMeta(id, kind, b.length, sha, w, h, f, 0, 0L, realDecode = false)
          }
        }
      }
  }

  /** Nearest-neighbor resize of a P5/P6 image to (w2 × h2), returning a
    * new image of the same format — the real pixel-level "resize" op of
    * an image pipeline, runnable inside any per-partition pass. */
  def resizePnmNearest(bytes: Array[Byte], w2: Int, h2: Int): Array[Byte] = {
    val (w, h, ch, off) = parsePnm(bytes).getOrElse(
      throw new IllegalArgumentException("not a binary P5/P6 image"))
    val header = s"P${if (ch == 3) 6 else 5}\n$w2 $h2\n255\n"
      .getBytes("US-ASCII")
    val out = new Array[Byte](header.length + w2 * h2 * ch)
    System.arraycopy(header, 0, out, 0, header.length)
    var y = 0
    while (y < h2) {
      val sy = y * h / h2
      var x = 0
      while (x < w2) {
        val sx = x * w / w2
        var c = 0
        while (c < ch) {
          out(header.length + (y * w2 + x) * ch + c) =
            bytes(off + (sy * w + sx) * ch + c)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** PCM amplitude features of a 16-bit WAV: (nSamples, peak, meanAbs) —
    * the real audio feature-extract step. */
  def wavPcmStats(bytes: Array[Byte]): (Long, Int, Double) = {
    val (_, ch, bits, off, len) = parseWav(bytes).getOrElse(
      throw new IllegalArgumentException("not a RIFF/WAVE file"))
    require(bits == 16, s"only 16-bit PCM supported, got $bits")
    val n = len / 2
    var i = 0
    var peak = 0
    var sumAbs = 0.0
    while (i < n) {
      val v = (bytes(off + 2 * i) & 0xff) | (bytes(off + 2 * i + 1) << 8)
      val a = math.abs(v)
      if (a > peak) peak = a
      sumAbs += a
      i += 1
    }
    (n.toLong / ch, peak, if (n == 0) 0.0 else sumAbs / n)
  }

  /** Frame sampling plan for video rows: every `stride`-th frame index —
    * the explode side of a frame-extraction pipeline (the extraction
    * itself would run in the same partition pass as decode). */
  def sampleFrames(meta: Dataset[MediaMeta], stride: Int): DataFrame =
    meta.toDF()
      .filter(col("nFrames") > 1)
      .select(col("id"), explode(
        sequence(lit(0), col("nFrames") - 1, lit(stride))).as("frame_idx"))

  // ---- perceptual image hashing (pHash family) -------------------------

  /** Grayscale plane of an image's bytes: (width, height, row-major
    * luma ints 0..255). Binary PNM decodes through the hand parser
    * (ImageIO has no PNM codec); everything else through ImageIO.
    * Luma = (299·R + 587·G + 114·B) / 1000 — integer, deterministic. */
  private[multimodal] def grayPlane(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b == null || b.length < 2) return None
    parsePnm(b) match {
      case Some((w, h, ch, off)) if b.length >= off + w * h * ch =>
        val g = new Array[Int](w * h)
        var i = 0
        while (i < w * h) {
          g(i) =
            if (ch == 1) b(off + i) & 0xff
            else ((b(off + i * 3) & 0xff) * 299 +
              (b(off + i * 3 + 1) & 0xff) * 587 +
              (b(off + i * 3 + 2) & 0xff) * 114) / 1000
          i += 1
        }
        Some((w, h, g))
      case _ =>
        try {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
          if (img == null) None
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val g = new Array[Int](w * h)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                g(y * w + x) = (((rgb >> 16) & 0xff) * 299 +
                  ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
                x += 1
              }
              y += 1
            }
            Some((w, h, g))
          }
        } catch { case _: Exception => None }
    }
  }

  private val PH = 32 // pHash working size (32×32 → 8×8 low-freq block)
  private val phCos: Array[Array[Double]] = // cos((2x+1)uπ/64), u<8
    Array.tabulate(8, PH)((u, x) =>
      math.cos((2 * x + 1) * u * math.Pi / (2.0 * PH)))

  /** 63-bit perceptual hash (pHash family: box-average to 32×32 →
    * 2-D DCT-II → 8×8 low-frequency block → median threshold; the DC
    * coefficient is dropped — it is the global mean, always above the
    * median, a constant bit). Invariant to affine intensity changes
    * (coefficients and median scale together) and robust to small
    * pixel noise (energy lands in high frequencies the hash ignores).
    * None for bytes no decoder accepts or images smaller than 8×8. */
  /** Box-average a w×h gray plane to the 32×32 pHash working plane:
    * each output cell averages its exact source rectangle (integer
    * bounds, non-empty for w,h ≥ 1). Shared by the 63-bit and 252-bit
    * hashes — and the reason k× pixel duplication is hash-preserving
    * (the duplicated rectangles average back to the identical plane). */
  private def boxAverage32(w: Int, h: Int, g: Array[Int]): Array[Double] = {
    val small = new Array[Double](PH * PH)
    var y = 0
    while (y < PH) {
      val y0 = y * h / PH; val y1 = math.max((y + 1) * h / PH, y0 + 1)
      var x = 0
      while (x < PH) {
        val x0 = x * w / PH; val x1 = math.max((x + 1) * w / PH, x0 + 1)
        var s = 0L
        var yy = y0
        while (yy < y1) {
          var xx = x0
          while (xx < x1) { s += g(yy * w + xx); xx += 1 }
          yy += 1
        }
        small(y * PH + x) = s.toDouble / ((y1 - y0) * (x1 - x0))
        x += 1
      }
      y += 1
    }
    small
  }

  def perceptualHash(b: Array[Byte]): Option[Long] = grayPlane(b).flatMap {
    case (w, h, g) if w >= 8 && h >= 8 =>
      val small = boxAverage32(w, h, g)
      // 2-D DCT-II, low 8×8 block only: 32·32·8·8 multiplies
      val coef = new Array[Double](64)
      var u = 0
      while (u < 8) {
        var v = 0
        while (v < 8) {
          var s = 0.0
          var yy = 0
          while (yy < PH) {
            var xx = 0
            while (xx < PH) {
              s += small(yy * PH + xx) * phCos(u)(xx) * phCos(v)(yy)
              xx += 1
            }
            yy += 1
          }
          coef(v * 8 + u) = s
          v += 1
        }
        u += 1
      }
      val ac = coef.drop(1).sorted
      val median = ac(31) // lower median of the 63 AC coefficients
      var hash = 0L
      var i = 1
      while (i < 64) {
        if (coef(i) > median) hash |= 1L << (i - 1)
        i += 1
      }
      Some(hash)
    case _ => None
  }

  case class ImageHash(id: Long, phash: Long)

  /** The media-hash pipeline keys its Hamming blocks on a Long id; a
    * silent cast("long") over a string id column would yield nulls and
    * fail deep inside the ingest job (or silently drop edges), so
    * reject non-integral id columns up front with a clear message. */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(idCol).dataType
    require(dt == ByteType || dt == ShortType || dt == IntegerType || dt == LongType,
      s"media hashing requires an integral id column; '$idCol' is $dt — " +
        "assign a surrogate Long id (e.g. monotonically_increasing_id or " +
        "xxhash64 of the natural key) before enabling the media signal")
  }

  /** Per-row perceptual hashes: one decode pass per partition, no
    * shuffle; undecodable rows are dropped (honest: no hash exists). */
  def perceptualHashes(df: DataFrame, idCol: String, binCol: String): Dataset[ImageHash] = {
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, idCol)
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        perceptualHash(bytes).map(ImageHash(id, _))
      })
  }

  /** [lo, hi) bit ranges of `nBlocks` equal-width blocks over 63 bits. */
  private def blockBounds(nBlocks: Int): IndexedSeq[(Int, Int)] = {
    val width = 63.0 / nBlocks
    (0 until nBlocks).map { q =>
      (math.round(q * width).toInt, math.round((q + 1) * width).toInt)
    }
  }

  /** Pigeonhole block rows `(id, h, q, bk)` of a 63-bit hash column
    * (id, h): the hash splits into maxHamming+`combo` disjoint blocks,
    * and a pair within the radius dirties at most maxHamming of them,
    * so at least `combo` blocks are CLEAN — the pair agrees exactly on
    * at least one `combo`-subset of blocks. `q` indexes the subset,
    * `bk` packs the subset's block values into one long (total width
    * 63·combo/m ≤ 63 bits).
    *
    * `combo` is the candidate-volume knob: random collisions scale as
    * C(m,combo)·2^(−63·combo/m) per pair — at radius 4, combo 1 is
    * 5·2^−12.6 (fine to ~1M hashes), combo 2 is 15·2^−21 (to ~10M),
    * combo 3 is 35·2^−27 (to ~50M). Recall at the radius is exact for
    * EVERY combo, so the verified pair set is combo-invariant; only
    * the candidate volume changes. combo=1 is the classic split. */
  def hashBlocks(hashes: DataFrame, maxHamming: Int, combo: Int = 1): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 8,
      s"maxHamming must be in [0,8], got $maxHamming")
    require(combo >= 1 && combo <= 4, s"combo must be in [1,4], got $combo")
    val nBlocks = maxHamming + combo
    val bounds = blockBounds(nBlocks)
    val subsets = (0 until nBlocks).combinations(combo).toIndexedSeq
    hashes.select(col("id"), col("h"),
      explode(array(subsets.zipWithIndex.map { case (sub, si) =>
        val packed = sub.foldLeft((lit(0L), 0)) { case ((acc, shift), q) =>
          val (lo, hi) = bounds(q)
          val blk = shiftright(col("h"), lo)
            .bitwiseAND(lit((1L << (hi - lo)) - 1))
          (acc.bitwiseOR(shiftleft(blk, shift)), shift + (hi - lo))
        }._1
        struct(lit(si).as("q"), packed.as("bk"))
      }: _*)).as("blk"))
      .select(col("id"), col("h"), col("blk.q"), col("blk.bk"))
  }

  /** Smallest clean-block requirement (1..4) whose expected RANDOM-
    * collision candidate volume for `pairs` cross pairs stays under
    * `budget`: candidates(c) ≈ C(r+c, c) · pairs · 2^(−63c/(r+c)).
    * Pass pairs = n²/2 for a self-join, nL·nR for a cross join. Beyond
    * combo 4 (≳10⁸ hashes at radius 4) the honest fix is a longer
    * perceptual hash, not more blocks — block width shrinks with m and
    * the subset fan-out C(m,c) grows combinatorially. */
  def comboFor(pairs: Double, maxHamming: Int, budget: Double = 2e8,
               bits: Int = 63): Int =
    (1 to 4).find { c =>
      val m = maxHamming + c
      val combos = (0 until c).map(i => (m - i).toDouble / (i + 1)).product
      combos * pairs * math.pow(2.0, -bits.toDouble * c / m) <= budget
    }.getOrElse(4)

  /** Cost-based clean-block choice: minimizes
    * C(m,c)·rows·emitWeight + C(m,c)·pairs·2^(−bits·c/m) — the first
    * term is the blocked rows every side must EMIT, SHUFFLE and SORT
    * (an exchanged row costs ~emitWeight× a candidate streamed through
    * the merge-join's bit_count filter), the second the expected
    * random-collision candidates. [[comboFor]]'s budget rule ignores
    * the emit term, which is fine at 63 bits (fan-out ≤ 70) but wrong
    * at 252 bits where radius 16 + combo 2 means C(18,2)=153 block
    * rows per hash. `emitWeight` is MEASURED, not guessed:
    * `Probe scale media`'s 4M-doc A/B ran the radius-16 wide self-join both
    * ways on identical hashes — combo 1 (68M block rows + 4.8·10⁹
    * streamed candidates) 582 s, combo 2 (612M block rows + 4.6·10⁶
    * candidates) 480 s, identical pair sets — backing out ≈110 ns per
    * streamed candidate and ≈0.8 µs per exchanged-and-sorted row, a
    * ~7× ratio (default 8). At the oracle-gate scales (≤50k hashes)
    * the choice stays combo 1 either way; past ~30M at 63 bits the
    * budget rule over-rotates to combo 3 where the cost rule correctly
    * holds 2. `rows` is the TOTAL hash rows across both sides; `pairs`
    * as in [[comboFor]]. */
  def comboForCost(rows: Double, pairs: Double, maxHamming: Int,
                   bits: Int = 63, emitWeight: Double = 8): Int =
    (1 to 4).minBy { c =>
      val m = maxHamming + c
      val combos = (0 until c).map(i => (m - i).toDouble / (i + 1)).product
      combos * rows * emitWeight +
        combos * pairs * math.pow(2.0, -bits.toDouble * c / m)
    }

  // ---- wide (252-bit) perceptual hash — the billion-image regime -------
  //
  // The 63-bit hash's random-collision floor is the birthday bound
  // Σ₀ʳC(63,k)/2⁶³ — ~7·10⁻¹⁴ at radius 4, i.e. ~one false merge per
  // 10¹³ pairs (`Probe scale media`'s 4M run landed one). A 252-bit hash
  // from the same DCT pushes that to ~10⁻⁵³: zero at any corpus size.
  // 252 = 4·63 keeps the repo's 63-bit long discipline (sign bits
  // clear, shifts never touch them).

  private val phCos16: Array[Array[Double]] = // cos((2x+1)uπ/64), u<16
    Array.tabulate(16, PH)((u, x) =>
      math.cos((2 * x + 1) * u * math.Pi / (2.0 * PH)))

  /** 252-bit perceptual hash: the SAME 32×32 box-averaged plane as
    * [[perceptualHash]], 2-D DCT-II low 16×16 block (256 coefficients),
    * DC dropped, median threshold over the 255 AC coefficients, first
    * 252 AC bits packed into 4×63-bit longs (the 3 highest-frequency
    * corner coefficients — the least stable — are dropped to fit).
    * Same invariances as the 63-bit hash (affine intensity, k× pixel
    * duplication); 4× the DCT flops. */
  def perceptualHashWide(b: Array[Byte]): Option[Array[Long]] = grayPlane(b).flatMap {
    case (w, h, g) if w >= 8 && h >= 8 =>
      val small = boxAverage32(w, h, g)
      val coef = new Array[Double](256)
      var u = 0
      while (u < 16) {
        var v = 0
        while (v < 16) {
          var s = 0.0
          var yy = 0
          while (yy < PH) {
            var xx = 0
            while (xx < PH) {
              s += small(yy * PH + xx) * phCos16(u)(xx) * phCos16(v)(yy)
              xx += 1
            }
            yy += 1
          }
          coef(v * 16 + u) = s
          v += 1
        }
        u += 1
      }
      val ac = java.util.Arrays.copyOfRange(coef, 1, 256)
      java.util.Arrays.sort(ac)
      val median = ac(127) // lower median of the 255 AC coefficients
      val hs = new Array[Long](4)
      var i = 1
      while (i <= 252) {
        if (coef(i) > median) hs((i - 1) / 63) |= 1L << ((i - 1) % 63)
        i += 1
      }
      Some(hs)
    case _ => None
  }

  /** Per-row 252-bit hashes as (id, h array<bigint>[4]); undecodable
    * rows dropped. */
  def perceptualHashesWide(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, idCol)
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        perceptualHashWide(bytes).map((id, _))
      })
      .toDF("id", "h")
  }

  /** Pigeonhole block rows of a 252-bit hash column (id, h
    * array<bigint>[4]): maxHamming+combo equal-width blocks over the
    * LINEAR 252-bit space (a block may span a long boundary — the
    * slice ORs two shifted halves), subsets of `combo` blocks as the
    * candidate keys. Key columns are (q, bk1..bk4) — one block value
    * per column, unused columns 0 — so no packing limit binds.
    * Same exact-recall guarantee as [[hashBlocks]]: ≤ maxHamming dirty
    * bits dirty ≤ maxHamming blocks, leaving ≥ combo clean.
    *
    * Tight radii (maxHamming + combo < 4) auto-raise `combo` to keep
    * every block within a 63-bit long: recall at the radius is exact
    * for EVERY combo, so the raise only narrows the candidate keys —
    * an exact-match (radius 0) query must not require the caller to
    * know the 252/63 packing arithmetic. */
  def hashBlocksWide(hashes: DataFrame, maxHamming: Int, combo: Int = 1): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 32,
      s"maxHamming must be in [0,32], got $maxHamming")
    require(combo >= 1 && combo <= 4, s"combo must be in [1,4], got $combo")
    val c = math.max(combo, 4 - maxHamming) // block width ≤ 63 over 252 bits
    val m = maxHamming + c
    val width = 252.0 / m
    val bounds = (0 until m).map { q =>
      (math.round(q * width).toInt, math.round((q + 1) * width).toInt)
    }
    def slice(lo: Int, hi: Int): Column = {
      val jLo = lo / 63; val jHi = (hi - 1) / 63
      val off = lo - jLo * 63
      if (jLo == jHi)
        shiftright(element_at(col("h"), jLo + 1), off)
          .bitwiseAND(lit((1L << (hi - lo)) - 1))
      else { // spans one boundary: top of long jLo + bottom of long jHi
        val lowBits = 63 * (jLo + 1) - lo
        val hiBits = hi - 63 * jHi
        shiftright(element_at(col("h"), jLo + 1), off)
          .bitwiseOR(shiftleft(element_at(col("h"), jHi + 1)
            .bitwiseAND(lit((1L << hiBits) - 1)), lowBits))
      }
    }
    val subsets = (0 until m).combinations(c).toIndexedSeq
    hashes.select(col("id"), col("h"),
      explode(array(subsets.zipWithIndex.map { case (sub, si) =>
        val ks = (0 until 4).map { i =>
          if (i < sub.length) { val (lo, hi) = bounds(sub(i)); slice(lo, hi) }
          else lit(0L)
        }
        struct(lit(si).as("q"), ks(0).as("bk1"), ks(1).as("bk2"),
          ks(2).as("bk3"), ks(3).as("bk4"))
      }: _*)).as("blk"))
      .select(col("id"), col("h"), col("blk.q"),
        col("blk.bk1"), col("blk.bk2"), col("blk.bk3"), col("blk.bk4"))
  }

  private def hammingWideExpr: Column =
    (1 to 4).map(i => expr(
      s"bit_count(element_at(a.h, $i) ^ element_at(b.h, $i))"))
      .reduce(_ + _).cast("int")

  private val wideKeys = Seq("q", "bk1", "bk2", "bk3", "bk4")

  /** [[hammingPairs]] for 252-bit hashes (id, h array<bigint>[4]):
    * pigeonhole-blocked self-join, exact recall at the radius, merge-
    * hinted (the block table is corpus-sized on both sides). Size
    * `combo` with [[comboFor]](pairs, r, bits = 252) — at 252 bits
    * combo 2 holds the candidate budget to beyond 10⁹ hashes even at
    * radius 16, where the 63-bit split is already past its cap. */
  def hammingPairsWide(hashes: DataFrame, maxHamming: Int,
                       combo: Int = 1): DataFrame = {
    val blocks = hashBlocksWide(hashes, maxHamming, combo).hint("merge")
    blocks.as("a").join(blocks.as("b"),
        wideKeys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        hammingWideExpr.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** CROSS variant of [[hammingPairsWide]] (one id namespace, pairs
    * normalized id1 < id2, equal ids excluded). */
  def hammingPairsBetweenWide(left: DataFrame, right: DataFrame,
                              maxHamming: Int, combo: Int = 1): DataFrame = {
    val lb = hashBlocksWide(left, maxHamming, combo)
    val rb = hashBlocksWide(right, maxHamming, combo)
    lb.as("a").join(rb.as("b"),
        wideKeys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id1"),
        greatest(col("a.id"), col("b.id")).as("id2"),
        hammingWideExpr.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Pigeonhole-blocked Hamming SELF-join over a 63-bit hash column
    * (id, h): recall 1.0 AT the declared radius by construction,
    * candidates from plain block equi-joins, never an all-pairs
    * comparison. Returns (id1 < id2, hamming). */
  def hammingPairs(hashes: DataFrame, maxHamming: Int,
                   combo: Int = 1): DataFrame = {
    // merge-hinted: both self-join sides are the corpus block table —
    // never broadcastable, whatever a descended static estimate says
    // (see DedupPipeline.verifiedPairs for the cliff this avoids)
    val blocks = hashBlocks(hashes, maxHamming, combo).hint("merge")
    blocks.as("a").join(blocks.as("b"),
        col("a.q") === col("b.q") && col("a.bk") === col("b.bk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        expr("bit_count(a.h ^ b.h)").cast("int").as("hamming"))
      .distinct() // a pair may agree on several blocks
      .filter(col("hamming") <= maxHamming)
  }

  /** CROSS variant (left-vs-right in ONE id namespace, e.g. a shard's
    * hashes against a pinned corpus hash table): same blocking, pairs
    * normalized (id1 < id2). Equal ids (a replayed doc meeting its own
    * committed hash) are excluded. */
  def hammingPairsBetween(left: DataFrame, right: DataFrame,
                          maxHamming: Int, combo: Int = 1): DataFrame = {
    val lb = hashBlocks(left, maxHamming, combo)
    val rb = hashBlocks(right, maxHamming, combo)
    lb.as("a").join(rb.as("b"),
        col("a.q") === col("b.q") && col("a.bk") === col("b.bk") &&
          col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id1"),
        greatest(col("a.id"), col("b.id")).as("id2"),
        expr("bit_count(a.h ^ b.h)").cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-duplicate IMAGE pairs at Hamming distance ≤ maxHamming over
    * the 63-bit perceptual hash — the multimodal twin of SimHash text
    * dedup (see [[hammingDedup]] for the blocking guarantee). Returns
    * (id1, id2, hamming), id1 < id2. */
  def perceptualDedup(df: DataFrame, idCol: String, binCol: String,
                      maxHamming: Int = 3): DataFrame =
    hammingPairs(
      perceptualHashes(df, idCol, binCol).toDF()
        .select(col("id"), col("phash").as("h"))
        .materialize(), // one decode pass, not one per join side
      maxHamming)

  /** Modality-dispatching 63-bit hash: image pHash when the bytes
    * decode as an image, else the audio fingerprint — the one media
    * signature a mixed-modality corpus column needs. Hashes from
    * different modalities land in uncorrelated bit patterns, so a
    * cross-modality pair at Hamming ≤ 8 is as unlikely as any random
    * collision. */
  def mediaHash(b: Array[Byte]): Option[Long] =
    perceptualHash(b).orElse(audioFingerprint(b))

  /** Modality-dispatching 252-bit media hash — media scheme 2, the
    * billion-asset regime of [[mediaHash]]: the wide image pHash when
    * the bytes decode as an image, else the 63-bit audio fingerprint
    * REPLICATED ×4. Replication (not zero-padding) keeps entropy in
    * every pigeonhole block — zero-padded audio rows would all collide
    * on the all-zero high blocks and quadratically candidate-join the
    * entire audio subset — and it scales audio distances ×4 (a pair at
    * narrow distance d reads 4d wide), so ONE radius convention covers
    * both modalities: a scheme-2 radius is ~4× the scheme-1 radius
    * (e.g. 16 wide ≈ 4 narrow). Cross-modality pairs stay ~126 bits
    * apart either way. */
  def mediaHashWide(b: Array[Byte]): Option[Array[Long]] =
    perceptualHashWide(b).orElse(
      audioFingerprint(b).map(a => Array(a, a, a, a)))

  /** Per-row [[mediaHashWide]]s as (id, h array<bigint>[4]);
    * undecodable rows dropped. */
  def mediaHashesWide(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, idCol)
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        mediaHashWide(bytes).map((id, _))
      })
      .toDF("id", "h")
  }

  /** Per-row [[mediaHash]]es as (id, h); undecodable rows dropped. */
  def mediaHashes(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, idCol)
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        mediaHash(bytes).map((id, _))
      })
      .toDF("id", "h")
  }

  // ---- audio fingerprint (Haitsma–Kalker band-energy family) -----------

  private val AF_FRAMES = 22 // 21 frame transitions
  private val AF_BANDS = 4 // 3 band differences → 63 bits
  /** Normalized band frequencies (fraction of the sample rate). */
  private val AF_FREQS = Array(0.04, 0.09, 0.18, 0.32)

  /** 63-bit audio fingerprint of a 16-bit PCM WAV: mono-mixed samples →
    * 22 equal frames → per-frame energy at 4 fixed normalized
    * frequencies (Goertzel) → the Haitsma–Kalker bit formula
    * bit(f,b) = ΔE(f,b) − ΔE(f−1,b) > 0 with ΔE(f,b) = E(f,b) −
    * E(f,b+1): the sign of the time-derivative of the band-energy
    * difference. Invariant to uniform gain BY CONSTRUCTION (energies
    * scale together; exactly so for power-of-two PCM scaling) and
    * robust to small additive noise (energy perturbations are
    * second-order). None for non-WAV/non-16-bit bytes or clips shorter
    * than one sample per frame-band cycle. */
  def audioFingerprint(b: Array[Byte]): Option[Long] =
    (if (b == null) None else parseWav(b)) match {
    case Some((_, ch, 16, off, len)) =>
      val n = len / (2 * ch)
      if (n < AF_FRAMES * 8) None
      else {
        // mono mix, one pass; doubles (energies need the headroom)
        val mono = new Array[Double](n)
        var i = 0
        while (i < n) {
          var s = 0.0
          var c = 0
          while (c < ch) {
            val o = off + (i * ch + c) * 2
            s += ((b(o) & 0xff) | (b(o + 1) << 8)).toShort.toDouble
            c += 1
          }
          mono(i) = s / ch
          i += 1
        }
        val e = Array.ofDim[Double](AF_FRAMES, AF_BANDS)
        var f = 0
        while (f < AF_FRAMES) {
          val lo = f * n / AF_FRAMES
          val hi = (f + 1) * n / AF_FRAMES
          var bd = 0
          while (bd < AF_BANDS) {
            // Goertzel at normalized frequency AF_FREQS(bd)
            val w = 2.0 * math.Pi * AF_FREQS(bd)
            val coeff = 2.0 * math.cos(w)
            var s1 = 0.0; var s2 = 0.0
            var j = lo
            while (j < hi) {
              val s0 = mono(j) + coeff * s1 - s2
              s2 = s1; s1 = s0
              j += 1
            }
            e(f)(bd) = s1 * s1 + s2 * s2 - coeff * s1 * s2
            bd += 1
          }
          f += 1
        }
        var hash = 0L
        var bit = 0
        f = 1
        while (f < AF_FRAMES) {
          var bd = 0
          while (bd < AF_BANDS - 1) {
            val d1 = e(f)(bd) - e(f)(bd + 1)
            val d0 = e(f - 1)(bd) - e(f - 1)(bd + 1)
            if (d1 - d0 > 0) hash |= 1L << bit
            bit += 1
            bd += 1
          }
          f += 1
        }
        Some(hash)
      }
    case _ => None
  }

  /** Per-row audio fingerprints: one decode pass per partition. */
  def audioFingerprints(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        audioFingerprint(bytes).map((id, _))
      })
      .toDF("id", "h")
  }

  /** Near-duplicate AUDIO pairs at Hamming ≤ maxHamming over the
    * 63-bit fingerprint — same pigeonhole blocking as image dedup. */
  def audioDedup(df: DataFrame, idCol: String, binCol: String,
                 maxHamming: Int = 3): DataFrame =
    hammingPairs(audioFingerprints(df, idCol, binCol).materialize(),
      maxHamming)
}
