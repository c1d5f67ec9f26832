package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.util.Blobs

/** Minimal YUV4MPEG2 (Y4M) video codec — the video analog of the WAV path:
  * a pure-JDK container with NO entropy coding (an ASCII stream header,
  * then `FRAME\n` + fixed-size raw planes per frame), so real demux /
  * frame-sample / feature-extract runs with zero native libraries. The
  * reference treats video as opaque bytes (S4 passthrough,
  * `BeStreamParser.java:40`); this gives the engine an actually-decodable
  * video format end-to-end while compressed codecs (H.264 &c.) keep riding
  * the byte-level stand-ins.
  *
  * Layout per the public Y4M spec (mjpegtools):
  * `YUV4MPEG2 W<w> H<h> F<num>:<den> [Ip A1:1 C420]\n` then per frame
  * `FRAME[ params]\n` + Y plane (w·h bytes) + U + V (subsampled per the
  * colorspace tag). All parsing here is sequential over one blob on the
  * [[Blobs]] seam — narrow, no shuffle.
  */
object Y4m {

  private val Magic = "YUV4MPEG2"
  private val FrameMagic = "FRAME"

  final case class Header(width: Int, height: Int, fpsNum: Int, fpsDen: Int,
      colorspace: String, dataStart: Int) {
    def ySize: Int = width * height
    /** bytes per frame for the 8-bit colorspaces the JDK can hold raw */
    def frameSize: Int = colorspace match {
      case "C420" | "C420jpeg" | "C420mpeg2" | "C420paldv" => ySize * 3 / 2
      case "C422" => ySize * 2
      case "C444" => ySize * 3
      case "Cmono" => ySize
      case other => sys.error(s"unsupported colorspace $other")
    }
  }

  /** Encode payload bytes as a C420 Y4M stream: consecutive w·h-byte
    * chunks become Y planes (trailing partial chunk dropped), chroma
    * planes are neutral 128. Same [[Multimodal.MediaTransform]] seam as
    * the WAV/resize encoders: bytes in, bytes out, batched, narrow. */
  final case class Y4mEncoder(width: Int, height: Int,
      fpsNum: Int = 25, fpsDen: Int = 1) extends Multimodal.MediaTransform {
    require(width > 0 && height > 0 && width % 2 == 0 && height % 2 == 0,
      "C420 chroma subsampling needs positive even dimensions")
    require(fpsNum > 0 && fpsDen > 0, "frame rate must be positive")

    def transformBatch(batch: Seq[Array[Byte]]): Seq[Array[Byte]] =
      batch.map(encode)

    def encode(payload: Array[Byte]): Array[Byte] = {
      val y = width * height
      val uv = y / 4
      val nFrames = payload.length / y
      val header =
        s"$Magic W$width H$height F$fpsNum:$fpsDen Ip A1:1 C420\n"
          .getBytes("US-ASCII")
      val out = new java.io.ByteArrayOutputStream(
        header.length + nFrames * (FrameMagic.length + 1 + y + 2 * uv))
      out.write(header, 0, header.length)
      val chroma = new Array[Byte](uv)
      java.util.Arrays.fill(chroma, 128.toByte)
      var k = 0
      while (k < nFrames) {
        out.write((FrameMagic + "\n").getBytes("US-ASCII"), 0, FrameMagic.length + 1)
        out.write(payload, k * y, y)
        out.write(chroma, 0, uv)
        out.write(chroma, 0, uv)
        k += 1
      }
      out.toByteArray
    }
  }

  /** Parse the stream header; None when the bytes aren't Y4M or declare a
    * geometry/rate/colorspace this decoder can't size. */
  def parseHeader(bytes: Array[Byte]): Option[Header] = {
    if (bytes == null) return None // NULL content = unparseable, 0 rows
    val nl = bytes.indexOf('\n'.toByte)
    if (nl < 0) return None
    val line = new String(bytes, 0, nl, "US-ASCII")
    val toks = line.split(' ')
    if (toks.isEmpty || toks(0) != Magic) return None
    var w = -1; var h = -1; var num = -1; var den = -1
    var cs = "C420" // spec default when the C tag is absent
    try {
      toks.iterator.drop(1).filter(_.nonEmpty).foreach { t =>
        t.charAt(0) match {
          case 'W' => w = t.substring(1).toInt
          case 'H' => h = t.substring(1).toInt
          case 'F' =>
            val p = t.substring(1).split(':')
            num = p(0).toInt; den = p(1).toInt
          case 'C' => cs = t
          case _ => () // Ip/A/X tags don't affect sizing
        }
      }
    } catch { case _: RuntimeException => return None }
    if (w <= 0 || h <= 0 || num <= 0 || den <= 0) None
    else {
      val hd = Header(w, h, num, den, cs, nl + 1)
      try { hd.frameSize; Some(hd) }
      catch { case _: RuntimeException => None }
    }
  }

  /** Walk the frame markers, yielding each frame's Y-plane offset in
    * `bytes`; nothing is copied. Stops at the first malformed or truncated
    * frame (a partial tail never yields a phantom frame). */
  def planeOffsets(bytes: Array[Byte], hd: Header): Iterator[Int] =
    Iterator.unfold(hd.dataStart) { pos =>
      val markerEnd = pos + FrameMagic.length
      if (markerEnd > bytes.length ||
        new String(bytes, pos, FrameMagic.length, "US-ASCII") != FrameMagic)
        None
      else {
        // frame params (rare) run to the newline; planes follow it
        var nl = markerEnd
        while (nl < bytes.length && bytes(nl) != '\n'.toByte) nl += 1
        if (nl >= bytes.length || nl + 1 + hd.frameSize > bytes.length) None
        else Some((nl + 1, nl + 1 + hd.frameSize))
      }
    }

  /** (frame index, Y plane) per frame, the plane copied out of `bytes`;
    * chroma planes are skipped, not copied. */
  def frames(bytes: Array[Byte], hd: Header): Iterator[(Int, Array[Byte])] =
    planeOffsets(bytes, hd).zipWithIndex.map { case (off, k) =>
      (k, java.util.Arrays.copyOfRange(bytes, off, off + hd.ySize))
    }

  /** Container facts per video blob; all-null row when the bytes aren't a
    * parseable Y4M stream (quarantine undecodables upstream if needed). */
  val VideoFeatureType: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("fps_num", IntegerType),
    StructField("fps_den", IntegerType),
    StructField("n_frames", LongType)))

  def videoFeatures(bytes: Array[Byte]): Row = parseHeader(bytes) match {
    case None => Row(null, null, null, null, null)
    case Some(hd) =>
      Row(hd.width, hd.height, hd.fpsNum, hd.fpsDen,
        planeOffsets(bytes, hd).size.toLong)
  }

  /** Video feature extraction over the REAL demuxer: one
    * [[VideoFeatureType]] row per record (narrow, no shuffle). */
  def extractVideoFeatures(df: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    Blobs.facts(df, idCol, contentCol, VideoFeatureType)(videoFeatures)

  /** Per-sampled-frame features: (id, frame_idx, luma_sum) for every
    * `everyN`-th Y plane, where luma_sum is the exact integer sum of the
    * plane's bytes — the video analog of [[Multimodal.WavDecoder]]'s
    * amplitude sum, reproducible by an oracle without float drift. Demux +
    * sum in one pass on the [[Blobs]] seam: 1 record → N rows, no shuffle;
    * NULL or unparseable content contributes 0 rows. */
  val FrameFeatureType: StructType = StructType(Seq(
    StructField("frame_idx", IntegerType),
    StructField("luma_sum", LongType)))

  private def lumaSum(bytes: Array[Byte], off: Int, hd: Header): Long = {
    var sum = 0L
    var i = off
    while (i < off + hd.ySize) { sum += bytes(i) & 0xff; i += 1 }
    sum
  }

  /** (frame index, Y-plane offset) of every `everyN`-th frame. */
  private def sampled(bytes: Array[Byte], hd: Header,
      everyN: Int): Iterator[(Int, Int)] =
    planeOffsets(bytes, hd).zipWithIndex.collect {
      case (off, k) if k % everyN == 0 => (k, off)
    }

  def extractFrameFeatures(df: DataFrame, idCol: String, contentCol: String,
      everyN: Int = 1): DataFrame = {
    require(everyN > 0, "everyN must be positive")
    Blobs.explode(df, idCol, contentCol, FrameFeatureType) { bytes =>
      parseHeader(bytes).iterator.flatMap(hd => sampled(bytes, hd, everyN)
        .map { case (k, off) => Row(k, lumaSum(bytes, off, hd)) })
    }
  }

  /** One-pass facts + sampled-frame features ([[Avi.extractVideoFrameFeatures]]'
    * shape): per sampled frame, the container facts and its luma sum. The
    * facts⋈frames alternative demuxes (and, behind an encoder, Y4M-encodes)
    * every video twice and shuffles to rejoin. NULL or unparseable content
    * contributes 0 rows. */
  val VideoFrameFeatureType: StructType = StructType(
    VideoFeatureType.fields.toSeq ++ FrameFeatureType.fields.toSeq)

  def extractVideoFrameFeatures(df: DataFrame, idCol: String,
      contentCol: String, everyN: Int = 1): DataFrame = {
    require(everyN > 0, "everyN must be positive")
    Blobs.explode(df, idCol, contentCol, VideoFrameFeatureType) { bytes =>
      parseHeader(bytes).iterator.flatMap { hd =>
        val n = planeOffsets(bytes, hd).size.toLong
        sampled(bytes, hd, everyN).map { case (k, off) =>
          Row(hd.width, hd.height, hd.fpsNum, hd.fpsDen, n, k,
            lumaSum(bytes, off, hd))
        }
      }
    }
  }

  /** Temporal (frame-to-frame) features: (id, frame_idx, delta_sum) where
    * delta_sum = Σ|Y_k[i] − Y_{k−1}[i]| — the classic scene-change /
    * motion-intensity signal. One pass per record on the [[Blobs]] seam
    * (narrow, no shuffle): planes are read in place in the blob and only
    * the previous plane's offset is held, so no plane is copied. Rows
    * start at frame_idx 1; single-frame, undecodable or NULL records emit
    * none. */
  val TemporalFeatureType: StructType = StructType(Seq(
    StructField("frame_idx", IntegerType),
    StructField("delta_sum", LongType)))

  def extractTemporalFeatures(df: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    Blobs.explode(df, idCol, contentCol, TemporalFeatureType) { bytes =>
      parseHeader(bytes).iterator.flatMap { hd =>
        planeOffsets(bytes, hd).sliding(2).withPartial(false).zipWithIndex
          .map { case (Seq(prev, cur), k) =>
            var sum = 0L
            var i = 0
            while (i < hd.ySize) {
              sum += math.abs((bytes(cur + i) & 0xff) - (bytes(prev + i) & 0xff))
              i += 1
            }
            Row(k + 1, sum)
          }
      }
    }
}
