package graft.multimodal

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageWriteParam

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.util.Blobs
import graft.util.Blobs.{le32, readLe32}

/** MJPEG-in-AVI video codec on pure JDK parts — the COMPRESSED-video
  * counterpart of [[Y4m]] (which is raw planes): AVI is a RIFF container
  * with fixed little-endian chunk headers, and each `00dc` frame chunk is
  * a plain JPEG that `javax.imageio` encodes and decodes natively. That
  * closes most of the compressed-video gap with zero native code; only
  * inter-frame entropy-coded codecs (H.264/VP9) remain on the byte-level
  * stand-ins, since no pure-JDK decoder for them exists. The reference
  * treats all video as opaque bytes (S4 passthrough,
  * `BeStreamParser.java:40`).
  *
  * Layout written/parsed here, per the public AVI RIFF spec (msdn
  * `AVIMAINHEADER`/`AVISTREAMHEADER`/`BITMAPINFOHEADER`):
  * {{{
  * RIFF 'AVI ' { LIST 'hdrl' { 'avih'(56) LIST 'strl' { 'strh'(56)
  *   'strf'(40) } } LIST 'movi' { '00dc' <jpeg> ... } }
  * }}}
  * All parsing is sequential over one blob on the [[Blobs]] seam —
  * narrow, no shuffle; JPEG decode runs only on the sampled frames.
  */
object Avi {

  private def fourCC(s: String): Array[Byte] = s.getBytes("US-ASCII")

  private def isCC(b: Array[Byte], off: Int, cc: String): Boolean =
    off + 4 <= b.length && b(off) == cc.charAt(0).toByte &&
      b(off + 1) == cc.charAt(1).toByte && b(off + 2) == cc.charAt(2).toByte &&
      b(off + 3) == cc.charAt(3).toByte

  /** Encode one 8-bit grayscale frame as a baseline JPEG at quality 1.0.
    * At that quality the JDK encoder's quantization tables are all ones,
    * so a CONSTANT-luma block round-trips bit-exactly (DC-only DCT) —
    * which is what lets an external oracle predict decoded luma sums;
    * arbitrary rasters decode with normal (lossy) JPEG error. The
    * explicit-quality param is built per call on the pooled writer. */
  private[multimodal] def encodeJpeg(img: BufferedImage): Array[Byte] = {
    val p = ImageIo.writer("jpeg").getDefaultWriteParam
    p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(1.0f)
    ImageIo.write("jpeg", img, p)
  }

  /** Encode payload bytes as an MJPEG AVI: byte k of the payload becomes
    * frame k, an 8-bit grayscale `width`×`height` raster filled with that
    * byte's value, JPEG-compressed per frame. `maxFrames` caps the stream
    * (JPEG encode is the cost driver). Same [[Multimodal.MediaTransform]]
    * seam as the WAV/Y4M encoders: bytes in, bytes out, batched, narrow. */
  final case class MjpegAviEncoder(width: Int = 8, height: Int = 8,
      fps: Int = 25, maxFrames: Int = Int.MaxValue)
      extends Multimodal.MediaTransform {
    require(width > 0 && height > 0, "frame geometry must be positive")
    require(fps > 0 && maxFrames > 0, "fps and maxFrames must be positive")

    def transformBatch(batch: Seq[Array[Byte]]): Seq[Array[Byte]] =
      batch.map(encode)

    private def chunk(cc: String, body: Array[Byte]): Array[Byte] = {
      val pad = body.length & 1 // RIFF chunks are word-aligned
      val out = new Array[Byte](8 + body.length + pad)
      System.arraycopy(fourCC(cc), 0, out, 0, 4)
      System.arraycopy(le32(body.length), 0, out, 4, 4)
      System.arraycopy(body, 0, out, 8, body.length)
      out
    }

    private def list(kind: String, body: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](12 + body.length)
      System.arraycopy(fourCC("LIST"), 0, out, 0, 4)
      System.arraycopy(le32(body.length + 4), 0, out, 4, 4)
      System.arraycopy(fourCC(kind), 0, out, 8, 4)
      System.arraycopy(body, 0, out, 12, body.length)
      out
    }

    def encode(payload: Array[Byte]): Array[Byte] = {
      val n = math.min(payload.length, maxFrames)
      val usPerFrame = 1000000 / fps
      val jpegs = (0 until n).map { k =>
        val img = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY)
        val v = payload(k) & 0xff
        var i = 0
        while (i < width * height) {
          img.getRaster.setSample(i % width, i / width, 0, v); i += 1
        }
        encodeJpeg(img)
      }
      val avih = new ByteArrayOutputStream()
      Seq(usPerFrame, 0, 0, 0, n, 0, 1, 0, width, height, 0, 0, 0, 0)
        .foreach(v => avih.write(le32(v), 0, 4))
      val strh = new ByteArrayOutputStream()
      strh.write(fourCC("vids"), 0, 4)
      strh.write(fourCC("MJPG"), 0, 4)
      // flags, prio+lang, initialFrames, scale, rate, start, length,
      // bufSize, quality, sampleSize, rcFrame (two words)
      Seq(0, 0, 0, 1, fps, 0, n, 0, -1, 0,
        0, (height << 16) | width).foreach(v => strh.write(le32(v), 0, 4))
      val strf = new ByteArrayOutputStream()
      // BITMAPINFOHEADER with biCompression = 'MJPG'
      strf.write(le32(40), 0, 4)
      strf.write(le32(width), 0, 4)
      strf.write(le32(height), 0, 4)
      strf.write(le32((24 << 16) | 1), 0, 4) // biPlanes=1, biBitCount=24
      strf.write(fourCC("MJPG"), 0, 4)
      Seq(width * height * 3, 0, 0, 0, 0).foreach(v => strf.write(le32(v), 0, 4))
      val strl = list("strl",
        chunk("strh", strh.toByteArray) ++ chunk("strf", strf.toByteArray))
      val hdrl = list("hdrl", chunk("avih", avih.toByteArray) ++ strl)
      val movi = list("movi", jpegs.flatMap(j => chunk("00dc", j)).toArray)
      val riffBody = fourCC("AVI ") ++ hdrl ++ movi
      val out = new ByteArrayOutputStream(8 + riffBody.length)
      out.write(fourCC("RIFF"), 0, 4)
      out.write(le32(riffBody.length), 0, 4)
      out.write(riffBody, 0, riffBody.length)
      out.toByteArray
    }
  }

  final case class Header(usPerFrame: Int, totalFrames: Int,
      width: Int, height: Int, moviStart: Int, moviEnd: Int)

  /** Walk the RIFF tree for the `avih` main header and the `movi` LIST;
    * None when the bytes aren't a parseable AVI. Tolerates unknown chunks
    * (skipped by their declared size, word-aligned) and an absent `idx1`. */
  def parseHeader(bytes: Array[Byte]): Option[Header] = {
    if (bytes == null) return None // NULL content = unparseable, 0 rows
    if (bytes.length < 12 || !isCC(bytes, 0, "RIFF") || !isCC(bytes, 8, "AVI "))
      return None
    val riffEnd = math.min(bytes.length.toLong, 8L + readLe32(bytes, 4)).toInt
    var avih: Option[(Int, Int, Int, Int)] = None
    var movi: Option[(Int, Int)] = None
    var pos = 12
    while (pos + 8 <= riffEnd && (avih.isEmpty || movi.isEmpty)) {
      val size = readLe32(bytes, pos + 4)
      if (size < 0 || pos + 8L + size > riffEnd) return None
      if (isCC(bytes, pos, "LIST") && size >= 4) {
        if (isCC(bytes, pos + 8, "movi"))
          movi = Some((pos + 12, pos + 8 + size))
        else if (isCC(bytes, pos + 8, "hdrl")) {
          // one level down: avih is hdrl's first chunk by spec, but walk
          // the whole list to stay layout-tolerant
          var p = pos + 12
          val end = pos + 8 + size
          while (p + 8 <= end && avih.isEmpty) {
            val sz = readLe32(bytes, p + 4)
            if (sz < 0 || p + 8L + sz > end) return None
            if (isCC(bytes, p, "avih") && sz >= 40)
              avih = Some((readLe32(bytes, p + 8), readLe32(bytes, p + 24),
                readLe32(bytes, p + 40), readLe32(bytes, p + 44)))
            p += 8 + sz + (sz & 1)
          }
        }
      }
      pos += 8 + size + (size & 1)
    }
    for ((us, total, w, h) <- avih; (ms, me) <- movi
        if w > 0 && h > 0 && total >= 0)
      yield Header(us, total, w, h, ms, me)
  }

  /** Iterate the `movi` frame chunks, yielding (frame index, JPEG bytes).
    * Both `00dc` (compressed) and `00db` (uncompressed DIB — still JPEG
    * under MJPG handlers that mislabel) spellings are accepted; other
    * chunk ids (audio `01wb`, `rec ` lists, `JUNK`) are skipped. Stops at
    * the first malformed chunk — a truncated tail never yields a phantom
    * frame. */
  def frames(bytes: Array[Byte], hd: Header): Iterator[(Int, Array[Byte])] =
    sampled(bytes, hd, everyN = 1)

  /** [[frames]]' walk without the copies: (offset, size) per frame chunk. */
  private def frameSpans(bytes: Array[Byte], hd: Header): Iterator[(Int, Int)] =
    Iterator.unfold(hd.moviStart) { pos =>
      if (pos + 8 > hd.moviEnd) None
      else {
        val size = readLe32(bytes, pos + 4)
        if (size < 0 || pos + 8L + size > hd.moviEnd) None
        else Some(((pos, size), pos + 8 + size + (size & 1)))
      }
    }.collect {
      case (pos, size) if isCC(bytes, pos, "00dc") || isCC(bytes, pos, "00db") =>
        (pos + 8, size)
    }

  /** (frame index, JPEG bytes) of every `everyN`-th frame; skipped frames
    * are demuxed, never copied. */
  private def sampled(bytes: Array[Byte], hd: Header,
      everyN: Int): Iterator[(Int, Array[Byte])] =
    frameSpans(bytes, hd).zipWithIndex.collect {
      case ((start, size), k) if k % everyN == 0 =>
        (k, java.util.Arrays.copyOfRange(bytes, start, start + size))
    }

  /** Container facts per AVI blob; all-null row when unparseable. */
  val VideoFeatureType: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("us_per_frame", IntegerType),
    StructField("n_frames", LongType)))

  def videoFeatures(bytes: Array[Byte]): Row = parseHeader(bytes) match {
    case None => Row(null, null, null, null)
    case Some(hd) =>
      Row(hd.width, hd.height, hd.usPerFrame,
        frameSpans(bytes, hd).size.toLong)
  }

  def extractVideoFeatures(df: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    Blobs.facts(df, idCol, contentCol, VideoFeatureType)(videoFeatures)

  /** Per-sampled-frame features through the REAL JPEG decoder:
    * (id, frame_idx, luma_sum) for every `everyN`-th `00dc` JPEG, where
    * luma_sum is the integer sum over the decoded frame's first raster
    * band. Skipped frames are demuxed, never decoded; un-decodable frames
    * emit a null sum (visible, not silently dropped). One pass on the
    * [[Blobs]] seam — 1 record → N rows, no shuffle. */
  val FrameFeatureType: StructType = StructType(Seq(
    StructField("frame_idx", IntegerType),
    StructField("luma_sum", LongType)))

  def extractFrameFeatures(df: DataFrame, idCol: String, contentCol: String,
      everyN: Int = 1): DataFrame = {
    require(everyN > 0, "everyN must be positive")
    Blobs.explode(df, idCol, contentCol, FrameFeatureType) { bytes =>
      parseHeader(bytes).iterator.flatMap(hd => sampled(bytes, hd, everyN)
        .map { case (idx, jpeg) => Row(idx, lumaSum(jpeg)) })
    }
  }

  /** Decoded first-raster-band integer sum; null for an un-decodable
    * frame. NonFatal, not just IOException: the JDK JPEG reader throws
    * RuntimeExceptions (AIOOBE, NegativeArraySize, CMMException) on many
    * malformed scans — one corrupt frame must degrade to a null sum, not
    * kill the whole partition's task. */
  private def lumaSum(jpeg: Array[Byte]): java.lang.Long =
    try {
      val img = ImageIo.read("jpeg", jpeg)
      if (img == null) null
      else {
        var s = 0L
        var i = 0
        val n = img.getWidth * img.getHeight
        while (i < n) {
          s += img.getRaster.getSample(i % img.getWidth, i / img.getWidth, 0)
          i += 1
        }
        java.lang.Long.valueOf(s)
      }
    } catch { case scala.util.control.NonFatal(_) => null }

  /** One-pass facts + sampled-frame features: demux once per video, decode
    * only every `everyN`-th frame, and emit per-frame rows carrying the
    * container facts. Replaces the facts⋈frames two-scan shape, which
    * evaluated the content lineage twice — for an MJPEG synthesis pipeline
    * that means JPEG-encoding every frame of every video TWICE — and then
    * paid a join shuffle to re-unite columns that sat in the same byte
    * array all along. 1 record → N rows, no shuffle; NULL or unparseable
    * content contributes 0 rows. */
  val VideoFrameFeatureType: StructType = StructType(
    VideoFeatureType.fields.toSeq ++ FrameFeatureType.fields.toSeq)

  def extractVideoFrameFeatures(df: DataFrame, idCol: String,
      contentCol: String, everyN: Int = 1): DataFrame = {
    require(everyN > 0, "everyN must be positive")
    Blobs.explode(df, idCol, contentCol, VideoFrameFeatureType) { bytes =>
      parseHeader(bytes).iterator.flatMap { hd =>
        val n = frameSpans(bytes, hd).size.toLong
        sampled(bytes, hd, everyN).map { case (idx, jpeg) =>
          Row(hd.width, hd.height, hd.usPerFrame, n, idx, lumaSum(jpeg))
        }
      }
    }
  }
}
