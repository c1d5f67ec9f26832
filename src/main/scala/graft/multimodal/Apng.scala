package graft.multimodal

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.util.zip.CRC32

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.util.Blobs
import graft.util.Blobs.{be16, be32, readBe16, readBe32}

/** Animated-PNG video codec on pure JDK parts — the INTER-FRAME
  * entropy-coded format [[Gif]] (intra-frame LZW) and [[Avi]] (intra-frame
  * JPEG) stop short of: APNG frame data is zlib-compressed (the real
  * `java.util.zip.Inflater`, reached through `javax.imageio`'s PNG codec),
  * and frames are PARTIAL patches composed onto the previous canvas under
  * the fcTL dispose/blend operators — decoding frame k requires the
  * composed state of frames 0..k-1, which is what "inter-frame" means.
  * With this, only motion-PREDICTED codecs (H.264/VP9, where prediction
  * happens inside the entropy-coded bitstream) remain on
  * [[Multimodal.FakeDecoder]] stand-ins; no pure-JDK decoder for those
  * exists. The reference treats all video as opaque bytes (S4 passthrough,
  * `aleph2_analytic_services_hadoop/.../BeStreamParser.java:40`).
  *
  * Chunk tree written/parsed here, per the public APNG spec:
  * {{{
  * \x89PNG\r\n\x1a\n
  *   IHDR (canvas w h, bit depth 8, colour type 6 RGBA)
  *   acTL (num_frames, num_plays)
  *   fcTL(seq 0, full canvas, delay, dispose, blend)   IDAT*  — frame 0
  *   ( fcTL(seq, patch w h x y, delay, dispose, blend) fdAT* )*
  *   IEND
  * }}}
  * fdAT = 4-byte sequence number + IDAT-style zlib data; a frame's data
  * chunks concatenate into one complete zlib stream. Sequence numbers
  * count fcTL and fdAT chunks together. Every chunk carries a CRC32 the
  * parser verifies (a bad CRC truncates the frame list, [[Avi.frames]]'
  * malformed-tail rule).
  *
  * Frame rasters ride ImageIO both ways (the [[Gif.encodeFrame]] splice
  * pattern): encode = write the patch as a standalone PNG and slice out
  * its IDAT zlib stream; decode = rebuild a standalone PNG around the
  * frame's data (IHDR with the fcTL dims + IDAT + IEND) and decode it
  * with the pooled PNG reader ([[ImageIo]]) — so compression and
  * decompression are the JDK's real zlib, never re-implemented here. All
  * parsing is sequential over one blob on the [[Blobs]] seam — narrow, no
  * shuffle.
  */
object Apng {

  private val Signature =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')

  private def writeChunk(out: ByteArrayOutputStream, typ: String,
      data: Array[Byte]): Unit = {
    val t = typ.getBytes("US-ASCII")
    out.write(be32(data.length), 0, 4)
    out.write(t, 0, 4)
    out.write(data, 0, data.length)
    val crc = new CRC32()
    crc.update(t)
    crc.update(data)
    out.write(be32(crc.getValue.toInt), 0, 4)
  }

  /** Concatenated IDAT payloads of a standalone PNG (the complete zlib
    * stream for its raster), sliced out of the ImageIO encoding. */
  private def idatOf(png: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var pos = 8
    while (pos + 8 <= png.length) {
      val len = readBe32(png, pos)
      val typ = new String(png, pos + 4, 4, "US-ASCII")
      if (typ == "IDAT") out.write(png, pos + 8, len)
      pos += 12 + len
    }
    require(out.size() > 0, "ImageIO PNG encode produced no IDAT")
    out.toByteArray
  }

  /** Encode one RGBA raster via ImageIO and keep only its zlib stream. */
  private def encodeRaster(img: BufferedImage): Array[Byte] =
    idatOf(ImageIo.write("png", img))

  // dispose/blend operator codes, per the spec
  val DisposeNone = 0
  val DisposeBackground = 1
  val DisposePrevious = 2
  val BlendSource = 0
  val BlendOver = 1

  /** Encode payload bytes as an APNG exercising the full inter-frame
    * surface, every choice deterministic from the byte index so a SQL
    * oracle can predict the composed canvas:
    *
    *  - frame 0: the full `width`×`height` canvas, bytes `[0, w·h)`,
    *    opaque, dispose NONE, blend SOURCE;
    *  - extra frame k (k ≥ 1): a `width`×`patchH` patch of the next
    *    `width·patchH` bytes at row offset `patchH·((k−1) mod (h/patchH))`,
    *    dispose `k mod 3` (NONE / BACKGROUND / PREVIOUS), blend
    *    `k mod 2` (SOURCE / OVER);
    *  - in OVER frames, a pixel whose payload byte is ASCII space is fully
    *    TRANSPARENT (α=0, rgb=0 — zeroed here so the raster is canonical
    *    regardless of encoder alpha handling) and leaves the canvas pixel
    *    visible; α is otherwise 255, so composition stays exact integer
    *    math (no fractional alpha);
    *  - per-frame delay is `delayNumFor(k)`/100 s.
    *
    * A payload shorter than one canvas yields an empty (unparseable) blob —
    * whole-frames-only, [[Y4m]]'s rule. Same [[Multimodal.MediaTransform]]
    * seam as the WAV/Y4M/AVI/GIF encoders: bytes in, bytes out, batched,
    * narrow. */
  final case class ApngEncoder(width: Int = 8, height: Int = 8,
      patchH: Int = 2, maxExtras: Int = 8,
      delayNumFor: Int => Int = k => 2 + (k % 5))
      extends Multimodal.MediaTransform {
    require(width > 0 && height > 0, "canvas geometry must be positive")
    require(patchH > 0 && height % patchH == 0,
      "patchH must divide the canvas height")

    def transformBatch(batch: Seq[Array[Byte]]): Seq[Array[Byte]] =
      batch.map(encode)

    private def rgba(v: Int, alpha: Int): Int =
      (alpha << 24) | (if (alpha == 0) 0 else (v << 16) | (v << 8) | v)

    def encode(payload: Array[Byte]): Array[Byte] = {
      val baseSz = width * height
      if (payload.length < baseSz) return Array.empty[Byte]
      val patchSz = width * patchH
      val nExtras = math.min((payload.length - baseSz) / patchSz, maxExtras)
      val nFrames = 1 + nExtras

      val out = new ByteArrayOutputStream()
      out.write(Signature, 0, 8)
      writeChunk(out, "IHDR",
        be32(width) ++ be32(height) ++ Array[Byte](8, 6, 0, 0, 0))
      writeChunk(out, "acTL", be32(nFrames) ++ be32(0))

      var seq = 0
      def fcTL(fw: Int, fh: Int, x: Int, y: Int, delayNum: Int,
          dispose: Int, blend: Int): Unit = {
        writeChunk(out, "fcTL",
          be32(seq) ++ be32(fw) ++ be32(fh) ++ be32(x) ++ be32(y) ++
            be16(delayNum) ++ be16(100) ++
            Array(dispose.toByte, blend.toByte))
        seq += 1
      }

      // frame 0: the full opaque canvas, carried in IDAT
      val base = new BufferedImage(width, height, BufferedImage.TYPE_INT_ARGB)
      var i = 0
      while (i < baseSz) {
        base.setRGB(i % width, i / width, rgba(payload(i) & 0xff, 255))
        i += 1
      }
      fcTL(width, height, 0, 0, delayNumFor(0), DisposeNone, BlendSource)
      writeChunk(out, "IDAT", encodeRaster(base))

      var k = 1
      while (k <= nExtras) {
        val blend = k % 2
        val img = new BufferedImage(width, patchH, BufferedImage.TYPE_INT_ARGB)
        var p = 0
        while (p < patchSz) {
          val b = payload(baseSz + (k - 1) * patchSz + p) & 0xff
          val alpha = if (blend == BlendOver && b == ' '.toInt) 0 else 255
          img.setRGB(p % width, p / width, rgba(b, alpha))
          p += 1
        }
        fcTL(width, patchH, 0, patchH * ((k - 1) % (height / patchH)),
          delayNumFor(k), k % 3, blend)
        writeChunk(out, "fdAT", be32(seq) ++ encodeRaster(img))
        seq += 1
        k += 1
      }
      writeChunk(out, "IEND", Array.empty[Byte])
      out.toByteArray
    }
  }

  final case class FrameCtl(idx: Int, width: Int, height: Int, x: Int,
      y: Int, delayNum: Int, delayDen: Int, dispose: Int, blend: Int,
      data: Array[Byte])

  final case class Parsed(width: Int, height: Int, declaredFrames: Int,
      frames: Vector[FrameCtl])

  /** Walk the PNG chunk tree: signature, IHDR, then acTL / fcTL / IDAT /
    * fdAT in stream order, CRC-verified chunk by chunk. None when the bytes
    * aren't a parseable APNG (no signature, no IHDR, no acTL — a plain PNG
    * is "not animated", not an animation of one frame); a malformed or
    * CRC-broken tail truncates the frame list rather than yielding a
    * phantom frame. A frame's data chunks (IDAT for frame 0 if an fcTL
    * precedes IDAT, fdAT otherwise) are concatenated in sequence order. */
  def parse(bytes: Array[Byte]): Option[Parsed] = {
    if (bytes == null || bytes.length < 8 + 25) return None
    var i = 0
    while (i < 8) { if (bytes(i) != Signature(i)) return None; i += 1 }
    var pos = 8
    var w = 0
    var h = 0
    var declared = -1
    var sawIhdr = false
    // in-flight frame state: fcTL seen, data being accumulated
    var cur: FrameCtl = null
    var curData: ByteArrayOutputStream = null
    var idx = 0
    val frames = Vector.newBuilder[FrameCtl]
    def flush(): Unit = {
      if (cur != null && curData != null && curData.size() > 0) {
        frames += cur.copy(data = curData.toByteArray)
        idx += 1
      }
      cur = null
      curData = null
    }
    var done = false
    while (!done && pos + 12 <= bytes.length) {
      val len = readBe32(bytes, pos)
      if (len < 0 || pos + 12 + len > bytes.length) { done = true }
      else {
        val typ = new String(bytes, pos + 4, 4, "US-ASCII")
        val crc = new CRC32()
        crc.update(bytes, pos + 4, 4 + len)
        if (crc.getValue.toInt != readBe32(bytes, pos + 8 + len)) done = true
        else {
          val d = pos + 8 // data offset
          typ match {
            case "IHDR" =>
              if (len < 13) return None
              w = readBe32(bytes, d)
              h = readBe32(bytes, d + 4)
              if (w <= 0 || h <= 0) return None
              sawIhdr = true
            case "acTL" =>
              if (len >= 8) declared = readBe32(bytes, d)
            case "fcTL" =>
              if (len >= 26) {
                flush()
                cur = FrameCtl(idx, readBe32(bytes, d + 4), readBe32(bytes, d + 8),
                  readBe32(bytes, d + 12), readBe32(bytes, d + 16),
                  readBe16(bytes, d + 20), readBe16(bytes, d + 22),
                  bytes(d + 24) & 0xff, bytes(d + 25) & 0xff, Array.empty)
                curData = new ByteArrayOutputStream()
              }
            case "IDAT" =>
              // frame 0's data iff an fcTL preceded IDAT; a plain PNG's
              // IDAT without fcTL belongs to the non-animated default image
              if (curData != null) curData.write(bytes, d, len)
            case "fdAT" =>
              if (len > 4 && curData != null)
                curData.write(bytes, d + 4, len - 4)
            case "IEND" => done = true
            case _ => // ancillary (tEXt, pHYs, …) skipped by length
          }
          pos += 12 + len
        }
      }
    }
    flush()
    if (!sawIhdr || declared < 0) return None
    Some(Parsed(w, h, declared, frames.result()))
  }

  /** Decode one frame's raster through the REAL JDK zlib/PNG decoder by
    * rebuilding a standalone PNG around the frame's data stream (the
    * [[Gif.decodeFrame]] splice, with IHDR dims from the fcTL). */
  def decodeFrame(f: FrameCtl): BufferedImage = {
    val out = new ByteArrayOutputStream()
    out.write(Signature, 0, 8)
    writeChunk(out, "IHDR",
      be32(f.width) ++ be32(f.height) ++ Array[Byte](8, 6, 0, 0, 0))
    writeChunk(out, "IDAT", f.data)
    writeChunk(out, "IEND", Array.empty[Byte])
    ImageIo.read("png", out.toByteArray)
  }

  /** The APNG output-buffer state machine, exact integer math throughout:
    * returns, per frame, the luma sum of the canvas AS RENDERED (after the
    * frame's blend, before its dispose). Transparent pixels carry luma 0;
    * α is binary by the encoder's construction so OVER is a per-pixel
    * select, never fractional. Null for an un-decodable frame (and the
    * composition stops there — later frames would be built on a canvas
    * this decoder can't reconstruct). */
  private[graft] def composedLumaSums(p: Parsed): Vector[java.lang.Long] = {
    val canvas = new Array[Int](p.width * p.height) // luma; transparent = 0
    val alpha = new Array[Int](p.width * p.height)
    val sums = Vector.newBuilder[java.lang.Long]
    var broken = false
    p.frames.foreach { f =>
      if (!broken) {
        val img =
          try decodeFrame(f)
          catch { case scala.util.control.NonFatal(_) => null }
        if (img == null || img.getWidth != f.width || img.getHeight != f.height ||
            f.x < 0 || f.y < 0 || f.x + f.width > p.width ||
            f.y + f.height > p.height) {
          sums += null
          broken = true
        } else {
          // stash the region for DisposePrevious BEFORE rendering
          val prevLuma = new Array[Int](f.width * f.height)
          val prevAlpha = new Array[Int](f.width * f.height)
          var yy = 0
          while (yy < f.height) {
            var xx = 0
            while (xx < f.width) {
              val c = (f.y + yy) * p.width + (f.x + xx)
              val q = yy * f.width + xx
              prevLuma(q) = canvas(c)
              prevAlpha(q) = alpha(c)
              val px = img.getRGB(xx, yy)
              val a = (px >>> 24) & 0xff
              if (f.blend == BlendSource || a != 0) {
                // binary α by construction: SOURCE always writes, OVER
                // writes only opaque pixels (α=0 leaves the canvas pixel)
                canvas(c) = if (a == 0) 0 else px & 0xff
                alpha(c) = a
              }
              xx += 1
            }
            yy += 1
          }
          var s = 0L
          var ci = 0
          while (ci < canvas.length) {
            if (alpha(ci) != 0) s += canvas(ci)
            ci += 1
          }
          sums += java.lang.Long.valueOf(s)
          // dispose: what the NEXT frame composites onto
          f.dispose match {
            case DisposeBackground =>
              var y2 = 0
              while (y2 < f.height) {
                var x2 = 0
                while (x2 < f.width) {
                  val c = (f.y + y2) * p.width + (f.x + x2)
                  canvas(c) = 0
                  alpha(c) = 0
                  x2 += 1
                }
                y2 += 1
              }
            case DisposePrevious =>
              var y3 = 0
              while (y3 < f.height) {
                var x3 = 0
                while (x3 < f.width) {
                  val c = (f.y + y3) * p.width + (f.x + x3)
                  val q = y3 * f.width + x3
                  canvas(c) = prevLuma(q)
                  alpha(c) = prevAlpha(q)
                  x3 += 1
                }
                y3 += 1
              }
            case _ => // NONE: rendered canvas carries forward
          }
        }
      } else sums += null
    }
    sums.result()
  }

  /** One-pass facts + per-frame composition ([[Gif.extractVideoFrameFeatures]]'
    * shape): demux once per blob, decode every frame (composition needs
    * them all — the inter-frame point), emit one row per frame with the
    * fcTL facts and the composed-canvas luma sum. 1 record → N rows on the
    * [[Blobs]] seam — narrow, no shuffle; NULL or unparseable content
    * contributes 0 rows. `delay_cs` is the fcTL delay in centiseconds
    * (delay_den 0 reads as 100, per spec). */
  val FrameFeatureType: StructType = StructType(Seq(
    StructField("canvas_w", IntegerType),
    StructField("canvas_h", IntegerType),
    StructField("n_frames", LongType),
    StructField("frame_idx", IntegerType),
    StructField("y_off", IntegerType),
    StructField("delay_cs", IntegerType),
    StructField("dispose_op", IntegerType),
    StructField("blend_op", IntegerType),
    StructField("composed_luma", LongType)))

  def extractFrameFeatures(df: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    Blobs.explode(df, idCol, contentCol, FrameFeatureType) { bytes =>
      parse(bytes).iterator.flatMap { p =>
        p.frames.iterator.zip(composedLumaSums(p).iterator).map { case (f, s) =>
          val den = if (f.delayDen == 0) 100 else f.delayDen
          Row(p.width, p.height, p.frames.size.toLong, f.idx, f.y,
            f.delayNum * 100 / den, f.dispose, f.blend, s)
        }
      }
    }
}
