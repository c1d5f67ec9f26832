package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.Blobs

/** Multimodal columns: image/audio/video as opaque `binary` columns with a
  * typed metadata struct, plus a batched decode/feature-extract seam.
  *
  * All three modalities decode for REAL with pure-JDK codecs: images via
  * `javax.imageio` (PNG/JPEG/BMP/GIF — [[ImageIoDecoder]],
  * [[ImageIoResizer]]), audio via the [[WavDecoder]] RIFF chunk walk +
  * `javax.sound` for multi-format facts (WAV/AIFF/AU), video uncompressed
  * (the YUV4MPEG2 container, [[Y4m]]), intra-frame compressed
  * (MJPEG-in-AVI, [[Avi]]; animated GIF/LZW, [[Gif]]) and INTER-FRAME
  * entropy-coded ([[Apng]]: zlib frame data + fcTL dispose/blend
  * composition, where a frame's visible canvas depends on all prior
  * frames). Only motion-PREDICTED codecs (H.264/VP9 &c., where prediction
  * lives inside the entropy-coded bitstream) still ride the
  * [[FakeDecoder]]/[[FakeFrameSampler]] stand-ins — no pure-JDK decoder
  * for them exists and the zero-egress sandbox ships no native demuxer.
  * The Spark-side plumbing is identical either way and is what matters at
  * 100 TB:
  *
  *  - media bytes stay in one `content: binary` column (never exploded into
  *    rows), with `media_meta` struct alongside;
  *  - the pluggable [[MediaDecoder]]/[[MediaTransform]]/[[FrameSampler]]
  *    seams run in `mapPartitions` over *batches* of records (the JVM analog
  *    of a Pandas-UDF `mapInPandas`: vectorized/native libs amortize setup
  *    per batch, not per record); batch size is a config;
  *  - the real JDK codecs have no per-batch setup, so their per-record
  *    operators ride the one [[graft.util.Blobs]] seam; either way the
  *    output schema is declared up front, static regardless of decoder
  *    internals.
  */
object Multimodal {

  val MediaMetaType: StructType = StructType(Seq(
    StructField("kind", StringType), // image | audio | video | unknown
    StructField("n_bytes", LongType),
    StructField("content_hash", StringType)))

  /** Attach the metadata struct for a binary content column. */
  def withMediaMeta(df: DataFrame, contentCol: String, kind: String): DataFrame =
    df.withColumn("media_meta", struct(
      lit(kind).as("kind"),
      length(col(contentCol)).cast("long").as("n_bytes"),
      md5(col(contentCol)).as("content_hash")))

  /** Feature row produced per media record by a decoder. */
  val FeatureType: StructType = StructType(Seq(
    StructField("n_bytes", LongType),
    StructField("head_byte", IntegerType),
    StructField("byte_sum_mod", LongType)))

  /** Decoder contract: handed a whole batch (like a Pandas-UDF batch), must
    * return one feature row per input. Swap [[FakeDecoder]] for a real
    * codec-backed implementation in production. */
  trait MediaDecoder extends Serializable {
    def decodeBatch(batch: Seq[Array[Byte]]): Seq[Row]
  }

  /** Deterministic stand-in for the codec: features derived from raw bytes
    * only (length, first byte, byte-sum mod 1e9+7). A real implementation
    * would do image decode / resample / frame-sample here. */
  object FakeDecoder extends MediaDecoder {
    def decodeBatch(batch: Seq[Array[Byte]]): Seq[Row] =
      batch.map { bytes =>
        var sum = 0L
        bytes.foreach(b => sum = (sum + (b & 0xff)) % 1000000007L)
        Row(bytes.length.toLong,
          if (bytes.isEmpty) -1 else bytes(0) & 0xff,
          sum)
      }
  }

  /** Batch transform contract (resize/resample/transcode shape): bytes in,
    * bytes out, one output per input. */
  trait MediaTransform extends Serializable {
    def transformBatch(batch: Seq[Array[Byte]]): Seq[Array[Byte]]
  }

  /** Deterministic resize stand-in: truncate/zero-pad to `targetBytes`. A
    * real implementation decodes, scales to WxH, re-encodes — same
    * signature, same batching. */
  final case class FakeResizer(targetBytes: Int) extends MediaTransform {
    def transformBatch(batch: Seq[Array[Byte]]): Seq[Array[Byte]] =
      batch.map(b => java.util.Arrays.copyOf(b, targetBytes))
  }

  /** Resize/transcode: rewrite the content column in place via a batched
    * transform — narrow (mapPartitions), bytes never leave the binary
    * column, batch amortizes codec setup. */
  def resizeContent(df: DataFrame, contentCol: String,
      transform: MediaTransform, batchSize: Int = 64): DataFrame = {
    val contentIdx = df.schema.fieldIndex(contentCol)
    implicit val enc: Encoder[Row] = Encoders.row(df.schema)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // NULL content passes through untransformed (null in → null out):
        // transforms receive only real byte arrays, so no MediaTransform
        // implementation has to carry its own null guard
        val raw = batch.map(_.getAs[Array[Byte]](contentIdx))
        val transformed = transform.transformBatch(raw.filter(_ != null)).iterator
        val out = raw.map(b => if (b == null) null else transformed.next())
        batch.iterator.zip(out.iterator).map { case (r, bytes) =>
          Row.fromSeq(r.toSeq.updated(contentIdx, bytes))
        }
      }
    }(enc)
  }

  /** Frame sampler contract: one media blob → 0..N (frame_idx, frame_bytes)
    * pairs (video frame-sampling shape). */
  trait FrameSampler extends Serializable {
    def sampleBatch(batch: Seq[Array[Byte]]): Seq[Seq[(Int, Array[Byte])]]
  }

  /** Deterministic stand-in: treat the blob as fixed-size `frameBytes`
    * chunks and keep every `everyN`-th chunk. A real implementation would
    * demux the container and decode keyframes — same 1-to-N shape. */
  final case class FakeFrameSampler(frameBytes: Int, everyN: Int) extends FrameSampler {
    def sampleBatch(batch: Seq[Array[Byte]]): Seq[Seq[(Int, Array[Byte])]] =
      batch.map { bytes =>
        bytes.grouped(frameBytes).zipWithIndex.collect {
          case (chunk, i) if i % everyN == 0 => (i, chunk)
        }.toSeq
      }
  }

  /** Frame sampling: 1 record → N frame rows (id, frame_idx, frame). The
    * explode happens inside mapPartitions with bounded memory per batch —
    * frames of one record never need to co-reside with another record's. */
  def sampleFrames(df: DataFrame, idCol: String, contentCol: String,
      sampler: FrameSampler, batchSize: Int = 64): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val contentIdx = df.schema.fieldIndex(contentCol)
    val outSchema = StructType(Seq(
      df.schema(idIdx),
      StructField("frame_idx", IntegerType),
      StructField("frame", BinaryType)))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // NULL content yields zero frames; samplers see only real arrays
        // (same contract as resizeContent)
        val raw = batch.map(_.getAs[Array[Byte]](contentIdx))
        val sampled = sampler.sampleBatch(raw.filter(_ != null)).iterator
        val frames = raw.map(b =>
          if (b == null) Seq.empty[(Int, Array[Byte])] else sampled.next())
        batch.iterator.zip(frames.iterator).flatMap { case (r, fs) =>
          fs.map { case (i, bytes) => Row(r.get(idIdx), i, bytes) }
        }
      }
    }(enc)
  }

  /** Feature row produced per image by the REAL ImageIO decoder; nulls when
    * the bytes don't decode (shunt undecodables with [[graft.sources.Sources]]
    * quarantine upstream if needed). */
  val ImageFeatureType: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("mean_luma", DoubleType),
    StructField("pixel_hash", LongType)))

  /** Real image decode via JDK-builtin `javax.imageio` — PNG/JPEG/BMP/GIF
    * with zero external dependencies. Disk cache off: executors decode from
    * memory, no temp-file round trip per image. */
  object ImageIoDecoder extends MediaDecoder {
    def decode(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
      if (bytes == null) None // NULL content = undecodable
      else try {
        javax.imageio.ImageIO.setUseCache(false)
        Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      } catch { case _: Exception => None }

    /** (width, height, mean luma, rolling pixel hash) — one raster pass. */
    def imageFeatures(bytes: Array[Byte]): Row = decode(bytes) match {
      case None => Row(null, null, null, null)
      case Some(img) =>
        val w = img.getWidth; val h = img.getHeight
        var lumaSum = 0.0
        var hash = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
            lumaSum += 0.299 * r + 0.587 * g + 0.114 * b
            hash = (hash * 1000003L + (rgb & 0xffffffL)) % 1000000007L
            x += 1
          }
          y += 1
        }
        Row(w, h, lumaSum / (w.toLong * h), hash)
    }

    /** [[MediaDecoder]] view: byte-level features like [[FakeDecoder]] but
      * derived from DECODED pixels (n_bytes, width-as-head, pixel hash). */
    def decodeBatch(batch: Seq[Array[Byte]]): Seq[Row] =
      batch.map { bytes =>
        val f = imageFeatures(bytes)
        Row(bytes.length.toLong,
          if (f.isNullAt(0)) -1 else f.getInt(0),
          if (f.isNullAt(3)) -1L else f.getLong(3))
      }
  }

  /** 64-bit average-hash (aHash) perceptual fingerprint: decode → 8×8
    * nearest-neighbor grayscale → bit j set iff pixel j ≥ the 64-pixel
    * mean. Two images of the same content (resized, re-encoded, slightly
    * edited) land within a few bits, so
    * [[graft.dedup.TextDedup.hammingCandidates]] over this column (with
    * `bits = 64`) is the image analog of simhash near-dup pairing — the
    * image-dedup path at corpus scale. Returns null for undecodable bytes. */
  val ImageHashType: StructType = StructType(Seq(
    StructField("ahash", LongType)))

  def aHash64(bytes: Array[Byte]): Row = ImageIoDecoder.decode(bytes) match {
    case None => Row(null)
    case Some(img) =>
      val g = new Array[Double](64)
      val sw = img.getWidth; val sh = img.getHeight
      var j = 0
      while (j < 64) {
        val x = j % 8; val y = j / 8
        // same deterministic nearest-neighbor sampling as ImageIoResizer
        val rgb = img.getRGB(((x.toLong * sw) / 8).toInt, ((y.toLong * sh) / 8).toInt)
        g(j) = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
        j += 1
      }
      val mean = g.sum / 64
      var hash = 0L
      j = 0
      while (j < 64) { if (g(j) >= mean) hash |= (1L << j); j += 1 }
      Row(hash)
  }

  /** Perceptual-hash extraction over the REAL decoder: one nullable `ahash`
    * per record (narrow, no shuffle). */
  def extractImageHashes(df: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    Blobs.facts(df, idCol, contentCol, ImageHashType)(aHash64)

  /** Deterministic token-raster PNG: pixel j of the 8×8 gray image is the
    * low byte of `String.hashCode` of the quantile-sampled sorted-distinct
    * token — the shared fixture behind q:mm5 (near-dup) and q:mm13
    * (histogram). The low byte is a 31-polynomial mod 256, so a SQL oracle
    * can predict every pixel without a PNG decoder. */
  def tokenRasterPng(text: String): Array[Byte] = {
    // NULL text renders the all-zero raster (not an NPE): the unparseable-
    // content contract for a fixture generator is a deterministic image.
    // Empty tokens are filtered: Java's split(' ') drops TRAILING empties
    // but keeps leading/interior ones, while the oracle's string_split
    // keeps all — an explicit filter on BOTH sides is the only tokenization
    // the two engines agree on for texts with edge/repeated spaces
    val toks = if (text == null) Array.empty[String]
      else text.split(' ').filter(_.nonEmpty).distinct.sorted
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var j = 0
    while (j < 64) {
      val v = if (toks.isEmpty) 0
        else toks(((j.toLong * toks.length) / 64).toInt).hashCode & 0xff
      img.setRGB(j % 8, j / 8, (v << 16) | (v << 8) | v)
      j += 1
    }
    ImageIo.write("png", img)
  }

  val LumaHistogramType: StructType = StructType(Seq(
    StructField("b0", LongType), StructField("b1", LongType),
    StructField("b2", LongType), StructField("b3", LongType)))

  /** 4-bin equi-width luma histogram over the REAL decoder (bin = luma/64;
    * gray rasters make red == luma exactly). Undecodable → null bins. */
  def extractImageHistograms(df: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    Blobs.facts(df, idCol, contentCol, LumaHistogramType) { bytes =>
      ImageIoDecoder.decode(bytes) match {
        case None => Row(null, null, null, null)
        case Some(img) =>
          val bins = new Array[Long](4)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              bins(((img.getRGB(x, y) >> 16) & 0xff) / 64) += 1L
              x += 1
            }
            y += 1
          }
          Row(bins(0), bins(1), bins(2), bins(3))
      }
    }

  val AugmentFeatureType: StructType = StructType(Seq(
    StructField("wsum_orig", LongType),
    StructField("wsum_hflip", LongType),
    StructField("wsum_rot90", LongType)))

  /** Geometric augmentation — the training-data augmentation stage —
    * through the REAL decode: horizontal mirror (out(x,y) = in(w−1−x, y))
    * and 90°-CLOCKWISE rotation (dest(x,y) = src(y, h−1−x), dims swapped)
    * executed as actual BufferedImage pixel moves, each result pinned by
    * the exact position-weighted luma sum Σ luma(x,y)·(x + W·y + 1) over
    * the TRANSFORMED raster. The weights make geometry observable: a
    * mirror-axis or transpose-vs-rotate slip moves luma between weights
    * and hash-fails against the oracle's closed-form reweighting of the
    * source pixels. Undecodable content → null sums. Narrow per-record
    * work like every codec stage. */
  def augmentImages(df: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    Blobs.facts(df, idCol, contentCol, AugmentFeatureType) { bytes =>
      ImageIoDecoder.decode(bytes) match {
        case None => Row(null, null, null)
        case Some(img) =>
          val w = img.getWidth
          val h = img.getHeight
          def wsum(im: java.awt.image.BufferedImage): Long = {
            var s = 0L
            var y = 0
            while (y < im.getHeight) {
              var x = 0
              while (x < im.getWidth) {
                s += (((im.getRGB(x, y) >> 16) & 0xff).toLong *
                  (x + im.getWidth * y + 1))
                x += 1
              }
              y += 1
            }
            s
          }
          def make(wi: Int, hi: Int)(src: (Int, Int) => Int) = {
            val out = new java.awt.image.BufferedImage(wi, hi,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < hi) {
              var x = 0
              while (x < wi) { out.setRGB(x, y, src(x, y)); x += 1 }
              y += 1
            }
            out
          }
          val hflip = make(w, h)((x, y) => img.getRGB(w - 1 - x, y))
          val rot90 = make(h, w)((x, y) => img.getRGB(y, h - 1 - x))
          Row(wsum(img), wsum(hflip), wsum(rot90))
      }
    }

  val EdgeFeatureType: StructType = StructType(Seq(
    StructField("grad_sum", LongType),
    StructField("grad_max", LongType),
    StructField("n_edge", LongType)))

  /** Sobel gradient features over the decoded luma raster — the classic
    * edge-energy signal of a blur/quality-filter stage, as an INTEGER-exact
    * 3×3 convolution (|gx| + |gy| per interior pixel; no sqrt, so a SQL
    * oracle can replay it pixel-for-pixel). Undecodable content → nulls. */
  def extractEdgeFeatures(df: DataFrame, idCol: String, contentCol: String,
      edgeThreshold: Int = 255): DataFrame =
    Blobs.facts(df, idCol, contentCol, EdgeFeatureType) { bytes =>
      ImageIoDecoder.decode(bytes) match {
        case None => Row(null, null, null)
        case Some(img) =>
          val w = img.getWidth
          val h = img.getHeight
          def p(x: Int, y: Int): Int = (img.getRGB(x, y) >> 16) & 0xff
          var sum = 0L
          var mx = 0L
          var ne = 0L
          var y = 1
          while (y < h - 1) {
            var x = 1
            while (x < w - 1) {
              val gx = p(x + 1, y - 1) + 2 * p(x + 1, y) + p(x + 1, y + 1) -
                p(x - 1, y - 1) - 2 * p(x - 1, y) - p(x - 1, y + 1)
              val gy = p(x - 1, y + 1) + 2 * p(x, y + 1) + p(x + 1, y + 1) -
                p(x - 1, y - 1) - 2 * p(x, y - 1) - p(x + 1, y - 1)
              val g = math.abs(gx).toLong + math.abs(gy)
              sum += g
              if (g > mx) mx = g
              if (g >= edgeThreshold) ne += 1
              x += 1
            }
            y += 1
          }
          Row(sum, mx, ne)
      }
    }

  /** Real resize: ImageIO decode → nearest-neighbor scale → PNG re-encode.
    * Nearest-neighbor (not Graphics2D filtering) so the output raster is
    * bit-deterministic across JVMs/platforms. Undecodable inputs pass
    * through unchanged. */
  final case class ImageIoResizer(targetW: Int, targetH: Int) extends MediaTransform {
    def transformBatch(batch: Seq[Array[Byte]]): Seq[Array[Byte]] =
      batch.map { bytes =>
        ImageIoDecoder.decode(bytes) match {
          case None => bytes
          case Some(src) =>
            val out = new java.awt.image.BufferedImage(
              targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val sw = src.getWidth; val sh = src.getHeight
            var y = 0
            while (y < targetH) {
              var x = 0
              while (x < targetW) {
                // long arithmetic: x*sw overflows Int for large upscales
                out.setRGB(x, y, src.getRGB(((x.toLong * sw) / targetW).toInt,
                  ((y.toLong * sh) / targetH).toInt))
                x += 1
              }
              y += 1
            }
            ImageIo.write("png", out)
        }
      }
  }

  /** Image feature extraction over the REAL decoder: one [[ImageFeatureType]]
    * row per record. */
  def extractImageFeatures(df: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    Blobs.facts(df, idCol, contentCol, ImageFeatureType)(
      ImageIoDecoder.imageFeatures)

  // ---- audio: REAL WAV encode/decode via JDK-builtin javax.sound --------

  /** Real PCM→WAV container encode: wraps each payload as 8-bit unsigned
    * mono PCM under a standard 44-byte RIFF/WAVE header. `javax.sound`
    * ships with the JDK, so like the ImageIO path this needs no external
    * codec. Same [[MediaTransform]] seam as resize: bytes in, bytes out,
    * batched, narrow. */
  final case class PcmWavEncoder(sampleRate: Int) extends MediaTransform {
    def transformBatch(batch: Seq[Array[Byte]]): Seq[Array[Byte]] =
      batch.map(pcm => wav(pcm, sampleRate, channels = 1, bits = 8, frame = 1))
  }

  /** A canonical 44-byte-header PCM WAV around `pcm`; `frame` is the
    * bytes per sample frame (the block align). */
  private def wav(pcm: Array[Byte], rate: Int, channels: Int, bits: Int,
      frame: Int): Array[Byte] = {
    // RIFF chunks are word-aligned: odd-sized data gets a pad byte that
    // counts toward the RIFF size but NOT the data chunk size
    val pad = pcm.length % 2
    val bb = java.nio.ByteBuffer.allocate(44 + pcm.length + pad)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + pcm.length + pad)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                 // PCM
      .putShort(channels.toShort)
      .putInt(rate)
      .putInt(rate * frame)        // byte rate
      .putShort(frame.toShort)     // block align
      .putShort(bits.toShort)      // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(pcm.length)
      .put(pcm)
    bb.array()
  }

  /** Real audio resample (decimation): decode the WAV container with
    * `javax.sound`, keep every `factor`-th sample (indices 0, f, 2f, …),
    * re-encode at sampleRate/factor — the downsample step of an audio
    * preprocessing pipeline, on the same batched [[MediaTransform]] seam
    * as the encoders. (Plain decimation, no anti-alias filter: the filter
    * is float DSP with no exact oracle; the INDEXING and container
    * round-trip are what this pins down.) */
  final case class WavDecimator(factor: Int) extends MediaTransform {
    require(factor >= 1, s"factor must be >= 1: $factor")
    def transformBatch(batch: Seq[Array[Byte]]): Seq[Array[Byte]] =
      batch.map { bytes =>
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          val pcm = in.readAllBytes()
          // decimate by whole FRAMES, not bytes: AudioSystem also decodes
          // 16-bit/stereo containers, where a byte-wise stride would
          // interleave bytes from different samples/channels into garbage
          val fs = fmt.getFrameSize match {
            case javax.sound.sampled.AudioSystem.NOT_SPECIFIED | 0 => 1
            case n                                                 => n
          }
          val nFrames  = pcm.length / fs
          val kept     = (nFrames + factor - 1) / factor
          val dec      = new Array[Byte](kept * fs)
          var i = 0
          while (i < kept) {
            System.arraycopy(pcm, i * factor * fs, dec, i * fs, fs)
            i += 1
          }
          val outRate = (fmt.getSampleRate / factor).toInt
          // multi-byte frames (16-bit and/or stereo) keep the decoded
          // format; a fixed 8-bit-mono header would mislabel the payload
          if (fs == 1) wav(dec, outRate, channels = 1, bits = 8, frame = 1)
          else wav(dec, outRate, math.max(1, fmt.getChannels),
            math.max(8, fmt.getSampleSizeInBits), fs)
        } finally in.close()
      }
  }

  /** Feature row produced per audio blob by the REAL WAV decoder; nulls when
    * the bytes aren't a parseable audio container. `amp_abs_sum` is the
    * integer sum of |sample - 128| over 8-bit unsigned PCM frames — exact,
    * so the oracle can reproduce it without float drift. */
  val AudioFeatureType: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_frames", LongType),
    StructField("duration_ms", LongType),
    StructField("amp_abs_sum", LongType)))

  /** Real audio decode via `javax.sound.sampled.AudioSystem` (JDK WAV/AIFF/AU
    * readers — no external demuxer). Parses the container header for format
    * facts and streams the frames once for the amplitude sum. */
  object WavDecoder {
    /** Zero-centered samples (s − 128) of an 8-bit UNSIGNED mono PCM
      * container; None for any other layout or unparseable bytes.
      *
      * Hand-rolled RIFF/WAVE chunk walk (the [[graft.multimodal.Gif]]/
      * [[graft.multimodal.Avi]] house pattern), NOT
      * `AudioSystem.getAudioInputStream`: the SPI provider lookup inside
      * AudioSystem serializes concurrent callers — measured on the sf1
      * gate corpus, 50k tiny WAVs decode in 2.3s on ONE thread but 5.3s
      * across 10 Spark partitions (negative scaling; the mm11 scale-gate
      * flag). The chunk walk is lock-free and ~40× cheaper per record.
      * Unsigned 8-bit PCM only exists in WAV containers (AIFF/AU 8-bit is
      * signed), so rejecting non-RIFF bytes preserves the contract
      * [[samples8ViaAudioSystem]] defines; MultimodalSpec asserts
      * equivalence on canonical, truncated, and wrong-format inputs. */
    def samples8(bytes: Array[Byte]): Option[Array[Int]] = {
      if (bytes == null || bytes.length < 12) return None
      def ascii4(o: Int): String = new String(bytes, o, 4, "US-ASCII")
      def u16(o: Int): Int = Blobs.readLe16(bytes, o)
      if (ascii4(0) != "RIFF" || ascii4(8) != "WAVE") return None
      var off = 12
      var fmtOk = false
      var dataOff = -1
      var dataLen = -1
      while (off + 8 <= bytes.length && (!fmtOk || dataOff < 0)) {
        val id = ascii4(off)
        val n = Blobs.readLe32(bytes, off + 4)
        if (n < 0) return None // a u32 size past Int.MaxValue
        if (id != "data" && off + 8 + n > bytes.length) return None
        id match {
          case "fmt " =>
            // PCM (tag 1), mono, 8-bit — anything else is a layout this
            // decoder does not speak (same None as the AudioSystem guard)
            if (n < 16 || u16(off + 8) != 1 || u16(off + 10) != 1 ||
                u16(off + 22) != 8) return None
            fmtOk = true
          case "data" =>
            dataOff = off + 8
            // a truncated tail decodes to the available prefix — the
            // javax.sound reference streams what's there, so must we
            dataLen = math.min(n, bytes.length - dataOff)
          case _ => // LIST/fact/cue… skipped; RIFF chunks self-describe
        }
        off += 8 + n + (n & 1) // chunks are word-aligned
      }
      if (!fmtOk || dataOff < 0) return None
      val out = new Array[Int](dataLen)
      var i = 0
      while (i < dataLen) { out(i) = (bytes(dataOff + i) & 0xff) - 128; i += 1 }
      Some(out)
    }

    /** The `javax.sound` reference implementation of [[samples8]] — kept as
      * the spec's cross-check oracle (MultimodalSpec asserts the chunk walk
      * and the SPI path agree), not used on any query hot path. */
    private[graft] def samples8ViaAudioSystem(bytes: Array[Byte]): Option[Array[Int]] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          if (fmt.getSampleSizeInBits != 8 || fmt.getChannels != 1 ||
              fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED)
            None
          else {
            val out = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](8192)
            var n = in.read(buf)
            while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
            Some(out.toByteArray.map(b => (b & 0xff) - 128))
          }
        } finally in.close()
      } catch { case _: Exception => None }

    def audioFeatures(bytes: Array[Byte]): Row =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          val nFrames = in.getFrameLength // NOT_SPECIFIED (-1) for unbounded streams
          val rate = fmt.getSampleRate.toInt
          var ampSum: Long = 0L
          // the |b - 128| amplitude formula is the UNSIGNED zero point —
          // guard on the encoding too, or signed 8-bit (e.g. AIFF) would
          // produce a plausible-looking wrong sum instead of the sentinel
          if (fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1 &&
              fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED) {
            val buf = new Array[Byte](8192)
            var n = in.read(buf)
            while (n > 0) {
              var i = 0
              while (i < n) { ampSum += math.abs((buf(i) & 0xff) - 128); i += 1 }
              n = in.read(buf)
            }
          } else ampSum = -1L // defined only for the 8-bit unsigned mono layout
          Row(rate, fmt.getChannels,
            if (nFrames >= 0) nFrames else null,
            if (nFrames >= 0 && rate > 0) nFrames * 1000L / rate else null,
            ampSum)
        } finally in.close()
      } catch { case _: Exception => Row(null, null, null, null, null) }
  }

  /** Audio feature extraction over the REAL decoder: one [[AudioFeatureType]]
    * row per record. */
  def extractAudioFeatures(df: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    Blobs.facts(df, idCol, contentCol, AudioFeatureType)(
      WavDecoder.audioFeatures)

  /** Char-class amplitude modulation: lowercase letters map below the 8-bit
    * PCM zero point (128), everything else above — so a text-derived
    * waveform genuinely oscillates and frame features (zero crossings)
    * become data-dependent instead of vacuously signless ASCII. Exactly
    * reproducible byte arithmetic for the oracle. */
  final case object CharClassModulator extends MediaTransform {
    def transformBatch(batch: Seq[Array[Byte]]): Seq[Array[Byte]] =
      batch.map(_.map { b =>
        val u = b & 0xff
        if (u >= 97) b else (256 - u).toByte
      })
  }

  /** Per-frame features from the REAL decoder: frame index, sample count,
    * integer energy Σ(s−128)², and zero crossings (adjacent sample pairs
    * straddling the zero point) — the classic VAD (voice-activity) pair,
    * all exact integer math so the oracle reproduces them bit-for-bit. */
  val AudioFrameFeatureType: StructType = StructType(Seq(
    StructField("frame_idx", IntegerType),
    StructField("n_samples", IntegerType),
    StructField("energy", LongType),
    StructField("zero_crossings", LongType)))

  /** Analysis-frame decomposition over [[WavDecoder]]: each record's 8-bit
    * unsigned mono PCM split into consecutive `frameLen`-sample windows
    * (partial tail kept). An explode operator on the [[Blobs]] seam:
    * unparseable or NULL content contributes 0 rows. */
  def extractAudioFrameFeatures(df: DataFrame, idCol: String,
      contentCol: String, frameLen: Int = 100): DataFrame = {
    require(frameLen > 0, "frameLen must be positive")
    Blobs.explode(df, idCol, contentCol, AudioFrameFeatureType) { bytes =>
      WavDecoder.samples8(bytes).iterator.flatMap { ss =>
        ss.grouped(frameLen).zipWithIndex.map { case (fr, fi) =>
          var energy = 0L
          var zc = 0L
          var i = 0
          while (i < fr.length) {
            val v = fr(i).toLong
            energy += v * v
            if (i > 0 && fr(i - 1) * v < 0) zc += 1
            i += 1
          }
          Row(fi, fr.length, energy, zc)
        }
      }
    }
  }

  val ImagePatchFeatureType: StructType = StructType(Seq(
    StructField("patch_idx", IntegerType),
    StructField("n_px", IntegerType),
    StructField("px_sum", LongType),
    StructField("px_min", IntegerType),
    StructField("px_max", IntegerType)))

  /** ViT-style patch decomposition over the REAL decoder: the raster split
    * into a `patchW` × `patchH` grid (edge patches keep their partial
    * size), one row per patch with exact integer luma stats — the
    * patchify step in front of a vision encoder, row-major patch order.
    * An explode operator on the [[Blobs]] seam: NULL or undecodable content
    * contributes 0 rows, matching [[extractAudioFrameFeatures]]. */
  def extractImagePatches(df: DataFrame, idCol: String, contentCol: String,
      patchW: Int = 4, patchH: Int = 4): DataFrame = {
    require(patchW > 0 && patchH > 0, "patch dims must be positive")
    Blobs.explode(df, idCol, contentCol, ImagePatchFeatureType) { bytes =>
      ImageIoDecoder.decode(bytes).iterator.flatMap { img =>
        val w = img.getWidth
        val h = img.getHeight
        val nCols = (w + patchW - 1) / patchW
        val nRows = (h + patchH - 1) / patchH
        Iterator.tabulate(nRows * nCols) { p =>
          val py = p / nCols
          val px = p % nCols
          var sum = 0L
          var mn = 255
          var mx = 0
          var n = 0
          var y = py * patchH
          while (y < math.min((py + 1) * patchH, h)) {
            var x = px * patchW
            while (x < math.min((px + 1) * patchW, w)) {
              val v = (img.getRGB(x, y) >> 16) & 0xff
              sum += v
              n += 1
              if (v < mn) mn = v
              if (v > mx) mx = v
              x += 1
            }
            y += 1
          }
          Row(p, n, sum, mn, mx)
        }
      }
    }
  }

  /** Run the decoder over batches of `batchSize` records (mapPartitions —
    * narrow, no shuffle), appending the feature struct columns to the id
    * column. */
  def extractFeatures(df: DataFrame, idCol: String, contentCol: String,
      decoder: MediaDecoder = FakeDecoder, batchSize: Int = 64): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val contentIdx = df.schema.fieldIndex(contentCol)
    val outSchema = StructType(
      df.schema(idIdx) +: FeatureType.fields.toSeq)
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // NULL content → all-null feature row (same contract as
        // resizeContent/sampleFrames: decoders see only real arrays)
        val raw = batch.map(r => r.getAs[Array[Byte]](contentIdx))
        val decoded = decoder.decodeBatch(raw.filter(_ != null)).iterator
        val nullRow = Row.fromSeq(FeatureType.fields.map(_ => null).toSeq)
        val features = raw.map(b => if (b == null) nullRow else decoded.next())
        batch.iterator.zip(features.iterator).map { case (r, f) =>
          Row.fromSeq(r.get(idIdx) +: f.toSeq)
        }
      }
    }(enc)
  }
}
