package graft.multimodal

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.util.Blobs
import graft.util.Blobs.{le16, readLe16}

/** Animated-GIF video codec on pure JDK parts — the second REAL
  * entropy-coded format next to [[Avi]]'s MJPEG: GIF pixel data is
  * LZW-compressed (genuine entropy coding), `javax.imageio` encodes and
  * decodes single-frame GIFs natively, and the animation container
  * (logical screen descriptor, graphics-control extensions carrying
  * per-frame delays, per-frame local color tables, sub-block framing) is
  * hand-muxed/demuxed here the way [[Avi]] does RIFF. Unlike JPEG, LZW is
  * LOSSLESS — every raster round-trips bit-exactly, so an external oracle
  * can predict whole decoded luma sums from the payload text with no
  * constant-block trick needed. With this, only inter-frame entropy-coded
  * codecs (H.264/VP9) remain on byte-level stand-ins (no pure-JDK decoder
  * exists). The reference treats all video as opaque bytes (S4
  * passthrough, `aleph2_analytic_services_hadoop/.../BeStreamParser.java:40`).
  *
  * Layout written/parsed here, per the public GIF89a spec:
  * {{{
  * "GIF89a" <LSD w h packed bg aspect> [GCT]
  *   ( 0x21 0xF9 <GCE: packed delay_cs transparent> 0x00
  *     0x2C <left top w h packed> [LCT] <lzwMinCode> <sub-blocks> 0x00 )*
  * 0x3B
  * }}}
  * All parsing is sequential over one blob on the [[Blobs]] seam —
  * narrow, no shuffle; LZW decode runs only on the sampled frames.
  */
object Gif {

  /** The JDK's single-frame GIF encode, reduced to the parts the animation
    * mux needs: the palette, the LZW-coded image data (min-code byte +
    * sub-blocks + terminator, copied verbatim), and the interlace flag —
    * the JDK writer emits INTERLACED row order, and dropping that bit from
    * the spliced descriptor would re-sequence rows 0,4,2,6,1,3,5,7. */
  private[multimodal] final case class FrameData(
      palette: Array[Byte], lzw: Array[Byte], interlaced: Boolean)

  /** Encode one raster as a single-frame GIF via ImageIO and slice out its
    * palette + LZW data. The JDK writer emits a GCT for indexed/gray
    * input; the image descriptor never carries an LCT then, but both
    * placements are handled (effective palette = LCT if present else GCT). */
  private[multimodal] def encodeFrame(img: BufferedImage): FrameData = {
    val b = ImageIo.write("gif", img)
    // header(6) + LSD(7)
    val packed = b(10) & 0xff
    var pos = 13
    var gct: Array[Byte] = Array.empty
    if ((packed & 0x80) != 0) {
      val n = 3 * (1 << ((packed & 0x07) + 1))
      gct = java.util.Arrays.copyOfRange(b, pos, pos + n)
      pos += n
    }
    while (pos < b.length) {
      (b(pos) & 0xff) match {
        case 0x21 => // extension: label + sub-blocks
          pos += 2
          while ((b(pos) & 0xff) != 0) pos += 1 + (b(pos) & 0xff)
          pos += 1
        case 0x2c =>
          val ipacked = b(pos + 9) & 0xff
          var p = pos + 10
          var pal = gct
          if ((ipacked & 0x80) != 0) {
            val n = 3 * (1 << ((ipacked & 0x07) + 1))
            pal = java.util.Arrays.copyOfRange(b, p, p + n)
            p += n
          }
          val dataStart = p
          p += 1 // LZW min code size
          while ((b(p) & 0xff) != 0) p += 1 + (b(p) & 0xff)
          p += 1 // sub-block terminator
          require(pal.nonEmpty, "JDK GIF encode produced no color table")
          return FrameData(pal, java.util.Arrays.copyOfRange(b, dataStart, p),
            (ipacked & 0x40) != 0)
        case 0x3b => pos = b.length
        case other =>
          throw new IllegalStateException(f"unexpected GIF block 0x$other%02x")
      }
    }
    throw new IllegalStateException("JDK GIF encode produced no image block")
  }

  /** Encode payload bytes as an animated GIF: frame k is a `width`×`height`
    * 8-bit grayscale raster carrying payload bytes `[k·w·h, (k+1)·w·h)` —
    * LZW is lossless, so every pixel round-trips exactly (unlike MJPEG's
    * constant-block restriction). A trailing partial chunk is dropped
    * ([[Y4m]]'s whole-frames-only rule). Per-frame delay (centiseconds) is
    * `delayFor(k)` — deterministic from the index so a container oracle can
    * predict it. Same [[Multimodal.MediaTransform]] seam as the WAV/Y4M/AVI
    * encoders: bytes in, bytes out, batched, narrow. */
  final case class GifEncoder(width: Int = 8, height: Int = 8,
      maxFrames: Int = Int.MaxValue,
      delayFor: Int => Int = k => 4 + (k % 5))
      extends Multimodal.MediaTransform {
    require(width > 0 && height > 0, "frame geometry must be positive")
    require(maxFrames > 0, "maxFrames must be positive")

    def transformBatch(batch: Seq[Array[Byte]]): Seq[Array[Byte]] =
      batch.map(encode)

    // explicit identity gray palette: an INDEXED source image makes the JDK
    // writer emit this exact 256-entry table (sample = palette index = luma)
    // instead of quantizing a grayscale raster its own way
    @transient private lazy val grayPalette =
      new java.awt.image.IndexColorModel(8, 256,
        Array.tabulate(256)(i => (0xff << 24) | (i << 16) | (i << 8) | i),
        0, false, -1, java.awt.image.DataBuffer.TYPE_BYTE)

    def encode(payload: Array[Byte]): Array[Byte] = {
      val fsz = width * height
      val n = math.min(payload.length / fsz, maxFrames)
      val out = new ByteArrayOutputStream()
      out.write("GIF89a".getBytes("US-ASCII"), 0, 6)
      out.write(le16(width), 0, 2)
      out.write(le16(height), 0, 2)
      out.write(0x70) // no GCT; colour resolution 8 — palettes ride per-frame
      out.write(0)    // background colour index
      out.write(0)    // pixel aspect ratio
      // NETSCAPE2.0 loop-forever extension (pervasive in real files; the
      // demuxer must skip unknown application extensions to be honest)
      out.write(0x21); out.write(0xff); out.write(11)
      out.write("NETSCAPE2.0".getBytes("US-ASCII"), 0, 11)
      out.write(3); out.write(1); out.write(le16(0), 0, 2); out.write(0)
      var k = 0
      while (k < n) {
        val img = new BufferedImage(width, height,
          BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
        var i = 0
        while (i < fsz) {
          img.getRaster.setSample(i % width, i / width, 0,
            payload(k * fsz + i) & 0xff)
          i += 1
        }
        val fd = encodeFrame(img)
        // graphics control extension: the per-frame delay
        out.write(0x21); out.write(0xf9); out.write(4)
        out.write(0) // packed: no disposal, no transparency
        out.write(le16(delayFor(k) & 0xffff), 0, 2)
        out.write(0) // transparent colour index (unused)
        out.write(0) // GCE terminator
        // image descriptor with the frame's palette as a LOCAL color table
        val entries = fd.palette.length / 3
        var bits = 1
        while ((1 << bits) < entries) bits += 1
        require((1 << bits) * 3 == fd.palette.length,
          s"non-power-of-two palette: $entries entries")
        out.write(0x2c)
        out.write(le16(0), 0, 2); out.write(le16(0), 0, 2)
        out.write(le16(width), 0, 2); out.write(le16(height), 0, 2)
        // LCT flag + interlace (as the JDK wrote it) + size
        out.write(0x80 | (if (fd.interlaced) 0x40 else 0) | (bits - 1))
        out.write(fd.palette, 0, fd.palette.length)
        out.write(fd.lzw, 0, fd.lzw.length)
        k += 1
      }
      out.write(0x3b)
      out.toByteArray
    }
  }

  final case class Frame(idx: Int, delayCs: Int, palette: Array[Byte],
      lzw: Array[Byte], width: Int, height: Int, interlaced: Boolean)

  final case class Parsed(width: Int, height: Int, frames: Vector[Frame])

  /** Walk the GIF block stream: logical screen descriptor, then extensions
    * (GCE delays tracked, others — comments, NETSCAPE — skipped by their
    * sub-block framing) and image descriptors. None when the bytes aren't a
    * parseable GIF; a malformed tail truncates the frame list rather than
    * yielding a phantom frame ([[Avi.frames]]' rule). */
  def parse(bytes: Array[Byte]): Option[Parsed] = {
    if (bytes == null) return None // NULL content = unparseable, 0 rows
    if (bytes.length < 13) return None
    val hdr = new String(bytes, 0, 6, "US-ASCII")
    if (hdr != "GIF89a" && hdr != "GIF87a") return None
    val w = readLe16(bytes, 6)
    val h = readLe16(bytes, 8)
    if (w <= 0 || h <= 0) return None
    val packed = bytes(10) & 0xff
    var pos = 13
    var gct: Array[Byte] = Array.empty
    if ((packed & 0x80) != 0) {
      val n = 3 * (1 << ((packed & 0x07) + 1))
      if (pos + n > bytes.length) return None
      gct = java.util.Arrays.copyOfRange(bytes, pos, pos + n)
      pos += n
    }
    val frames = Vector.newBuilder[Frame]
    var idx = 0
    var delay = 0 // GCE applies to the NEXT image; default 0 when absent
    def skipSubBlocks(): Boolean = {
      while (pos < bytes.length && (bytes(pos) & 0xff) != 0) {
        pos += 1 + (bytes(pos) & 0xff)
        if (pos > bytes.length) return false
      }
      if (pos >= bytes.length) return false
      pos += 1
      true
    }
    while (pos < bytes.length) {
      (bytes(pos) & 0xff) match {
        case 0x3b => return Some(Parsed(w, h, frames.result()))
        case 0x21 =>
          if (pos + 2 > bytes.length) return Some(Parsed(w, h, frames.result()))
          val label = bytes(pos + 1) & 0xff
          pos += 2
          if (label == 0xf9 && pos + 5 <= bytes.length &&
              (bytes(pos) & 0xff) == 4)
            delay = readLe16(bytes, pos + 2)
          if (!skipSubBlocks()) return Some(Parsed(w, h, frames.result()))
        case 0x2c =>
          if (pos + 10 > bytes.length) return Some(Parsed(w, h, frames.result()))
          val fw = readLe16(bytes, pos + 5)
          val fh = readLe16(bytes, pos + 7)
          val ipacked = bytes(pos + 9) & 0xff
          pos += 10
          var pal = gct
          if ((ipacked & 0x80) != 0) {
            val n = 3 * (1 << ((ipacked & 0x07) + 1))
            if (pos + n > bytes.length) return Some(Parsed(w, h, frames.result()))
            pal = java.util.Arrays.copyOfRange(bytes, pos, pos + n)
            pos += n
          }
          val dataStart = pos
          pos += 1 // LZW min code size
          if (!skipSubBlocks()) return Some(Parsed(w, h, frames.result()))
          if (fw > 0 && fh > 0 && pal.nonEmpty)
            frames += Frame(idx, delay, pal,
              java.util.Arrays.copyOfRange(bytes, dataStart, pos), fw, fh,
              (ipacked & 0x40) != 0)
          idx += 1
          delay = 0
        case _ => return Some(Parsed(w, h, frames.result())) // malformed tail
      }
    }
    Some(Parsed(w, h, frames.result()))
  }

  /** Decode one demuxed frame through the REAL JDK LZW decoder by splicing
    * a single-frame GIF around the frame's palette + data, then resolving
    * pixels through the palette (getRGB, not raw raster samples — an
    * indexed raster's band 0 is the palette INDEX, not the luma). */
  def decodeFrame(f: Frame): BufferedImage = {
    val entries = f.palette.length / 3
    var bits = 1
    while ((1 << bits) < entries) bits += 1
    val out = new ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"), 0, 6)
    out.write(le16(f.width), 0, 2)
    out.write(le16(f.height), 0, 2)
    out.write(0x80 | 0x70 | (bits - 1)) // GCT present, size = palette's
    out.write(0); out.write(0)
    out.write(f.palette, 0, f.palette.length)
    out.write(0x2c)
    out.write(le16(0), 0, 2); out.write(le16(0), 0, 2)
    out.write(le16(f.width), 0, 2); out.write(le16(f.height), 0, 2)
    out.write(if (f.interlaced) 0x40 else 0) // no LCT; interlace preserved
    out.write(f.lzw, 0, f.lzw.length)
    out.write(0x3b)
    ImageIo.read("gif", out.toByteArray)
  }

  /** Palette-resolved luma sum (blue channel — R=G=B for a gray palette);
    * null for an un-decodable frame, NonFatal-guarded like [[Avi]]'s. */
  private def lumaSum(f: Frame): java.lang.Long =
    try {
      val img = decodeFrame(f)
      if (img == null) null
      else {
        var s = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            s += (img.getRGB(x, y) & 0xff)
            x += 1
          }
          y += 1
        }
        java.lang.Long.valueOf(s)
      }
    } catch { case scala.util.control.NonFatal(_) => null }

  /** One-pass facts + sampled-frame features ([[Avi.extractVideoFrameFeatures]]'
    * shape): demux once per blob, LZW-decode only every `everyN`-th frame,
    * emit (id, width, height, n_frames, frame_idx, delay_cs, luma_sum).
    * 1 record → N rows on the [[Blobs]] seam — narrow, no shuffle; NULL or
    * unparseable content contributes 0 rows. */
  val VideoFrameFeatureType: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", LongType),
    StructField("frame_idx", IntegerType),
    StructField("delay_cs", IntegerType),
    StructField("luma_sum", LongType)))

  def extractVideoFrameFeatures(df: DataFrame, idCol: String,
      contentCol: String, everyN: Int = 1): DataFrame = {
    require(everyN > 0, "everyN must be positive")
    Blobs.explode(df, idCol, contentCol, VideoFrameFeatureType) { bytes =>
      parse(bytes).iterator.flatMap { p =>
        p.frames.iterator.filter(_.idx % everyN == 0).map { f =>
          Row(p.width, p.height, p.frames.size.toLong, f.idx, f.delayCs,
            lumaSum(f))
        }
      }
    }
  }
}
