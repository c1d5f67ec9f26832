package graft

import java.io.ByteArrayOutputStream
import java.awt.image.BufferedImage

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal

/** Real-codec image path: deterministic PNGs generated in-test, decoded and
  * resized through JDK ImageIO (no external codec libs). Verifies pixels,
  * not just plumbing. */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  /** Deterministic w×h PNG: pixel (x,y) = RGB(x*17 % 256, y*29 % 256,
    * (x+y)*13 % 256). */
  private def png(w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 17 % 256) << 16) | ((y * 29 % 256) << 8) | ((x + y) * 13 % 256))
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private val mediaSchema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("content", BinaryType)))

  private def mediaDf(rows: Seq[(Int, Array[Byte])]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, b) => Row(i, b) }, 2),
      mediaSchema)

  test("extractImageFeatures decodes real PNG dimensions and pixels") {
    val df = mediaDf(Seq(1 -> png(8, 6), 2 -> png(3, 5),
      3 -> Array[Byte](1, 2, 3) /* not an image */))
    val out = Multimodal.extractImageFeatures(df, "id", "content")
      .collect().map(r => r.getInt(0) -> r).toMap

    assert(out(1).getInt(1) === 8 && out(1).getInt(2) === 6)
    assert(out(2).getInt(1) === 3 && out(2).getInt(2) === 5)
    // undecodable bytes → null features, row preserved
    assert(out(3).isNullAt(1) && out(3).isNullAt(3))

    // mean luma + rolling hash recomputed independently from the generator
    var luma = 0.0; var hash = 0L
    for (y <- 0 until 6; x <- 0 until 8) {
      val (r, g, b) = (x * 17 % 256, y * 29 % 256, (x + y) * 13 % 256)
      luma += 0.299 * r + 0.587 * g + 0.114 * b
      val rgb = (r << 16) | (g << 8) | b
      hash = (hash * 1000003L + rgb) % 1000000007L
    }
    assert(math.abs(out(1).getDouble(3) - luma / 48) < 1e-9)
    assert(out(1).getLong(4) === hash)
  }

  test("image patches: row-major grid, partial edge patches, exact stats") {
    // 10×6 with 4×4 patches → 3×2 grid; the right column is 2 px wide and
    // the bottom row 2 px tall — the q:mm14 fixture (8×8) divides evenly,
    // so the partial-edge contract is pinned here
    val df = mediaDf(Seq(1 -> png(10, 6), 2 -> Array[Byte](9, 9)))
    val out = Multimodal.extractImagePatches(df, "id", "content")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
    assert(!out.keys.exists(_._1 == 2), "undecodable content emits 0 rows")
    assert(out.keys.count(_._1 == 1) === 6)
    for (p <- 0 until 6) {
      val (py, px) = (p / 3, p % 3)
      val vals = for {
        y <- (py * 4) until math.min(py * 4 + 4, 6)
        x <- (px * 4) until math.min(px * 4 + 4, 10)
      } yield x * 17 % 256 // red channel == the extractor's luma read
      val r = out((1, p))
      assert(r.getInt(2) === vals.size)
      assert(r.getLong(3) === vals.map(_.toLong).sum)
      assert(r.getInt(4) === vals.min && r.getInt(5) === vals.max)
    }
  }

  test("augmentImages: flip/rotate geometry on an asymmetric raster, exact weighted sums") {
    // 3×2 raster (asymmetric, so any axis slip changes the sums); luma ==
    // the red channel x*17%256. Weight on a W-wide image is x + W*y + 1.
    val df = mediaDf(Seq(1 -> png(3, 2), 2 -> Array[Byte](7)))
    def red(x: Int): Long = (x * 17 % 256).toLong
    // original 3×2: rows y=0,1; luma depends only on x
    val orig = (for (y <- 0 until 2; x <- 0 until 3)
      yield red(x) * (x + 3 * y + 1)).sum
    // hflip: out(x,y) = in(2-x, y), same dims
    val hfl = (for (y <- 0 until 2; x <- 0 until 3)
      yield red(2 - x) * (x + 3 * y + 1)).sum
    // rot90 clockwise: dest is 2×3; dest(x,y) = src(y, 1-x), weight x+2y+1
    val rot = (for (y <- 0 until 3; x <- 0 until 2)
      yield red(y) * (x + 2 * y + 1)).sum
    val out = Multimodal.augmentImages(df, "id", "content")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(out(1).getLong(1) === orig)
    assert(out(1).getLong(2) === hfl)
    assert(out(1).getLong(3) === rot)
    assert(out(2).isNullAt(1) && out(2).isNullAt(2) && out(2).isNullAt(3))
  }

  test("ImageIoResizer produces real 4x4 pixels = nearest-neighbor of source") {
    val src = png(8, 8)
    val out = Multimodal.resizeContent(
      mediaDf(Seq(1 -> src)), "content", Multimodal.ImageIoResizer(4, 4))
      .collect().head.getAs[Array[Byte]](1)
    val img = Multimodal.ImageIoDecoder.decode(out).get
    assert(img.getWidth === 4 && img.getHeight === 4)
    val srcImg = Multimodal.ImageIoDecoder.decode(src).get
    for (y <- 0 until 4; x <- 0 until 4)
      assert((img.getRGB(x, y) & 0xffffff) === (srcImg.getRGB(x * 2, y * 2) & 0xffffff),
        s"pixel ($x,$y)")
  }

  test("JPEG decodes through the same path (lossy pixels, exact dimensions)") {
    val img = new BufferedImage(16, 12, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 12; x <- 0 until 16) img.setRGB(x, y, 0x336699)
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val out = Multimodal.extractImageFeatures(
      mediaDf(Seq(1 -> bos.toByteArray)), "id", "content").collect().head
    assert(out.getInt(1) === 16 && out.getInt(2) === 12)
    // JPEG is lossy but near-solid-color: mean luma within a few units of
    // the exact value for RGB(0x33,0x66,0x99)
    val exactLuma = 0.299 * 0x33 + 0.587 * 0x66 + 0.114 * 0x99
    assert(math.abs(out.getDouble(3) - exactLuma) < 5.0,
      s"luma ${out.getDouble(3)} vs $exactLuma")
  }

  test("ImageIoResizer passes undecodable bytes through unchanged") {
    val junk = Array[Byte](9, 9, 9, 9)
    val out = Multimodal.resizeContent(
      mediaDf(Seq(1 -> junk)), "content", Multimodal.ImageIoResizer(4, 4))
      .collect().head.getAs[Array[Byte]](1)
    assert(out.toSeq === junk.toSeq)
  }

  test("aHash: stable across resize, far for inverted content, composes with hamming banding") {
    val src = png(32, 32)
    // nearest-neighbor 16x16 of the same content: aHash samples the SAME
    // source pixels (x*16/8 -> src(4x)), so the hash is bit-identical
    val resized = Multimodal.resizeContent(
      mediaDf(Seq(1 -> src)), "content", Multimodal.ImageIoResizer(16, 16))
      .collect().head.getAs[Array[Byte]](1)
    val h1 = Multimodal.aHash64(src).getLong(0)
    val h2 = Multimodal.aHash64(resized).getLong(0)
    assert(java.lang.Long.bitCount(h1 ^ h2) <= 4,
      s"resize moved the hash ${java.lang.Long.bitCount(h1 ^ h2)} bits")

    // luminance-inverted image: most bits flip
    val inv = new BufferedImage(32, 32, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32) {
      val v = 255 - ((x * 17 + y * 29) % 256)
      inv.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(inv, "png", bos)
    val h3 = Multimodal.aHash64(bos.toByteArray).getLong(0)
    assert(java.lang.Long.bitCount(h1 ^ h3) > 8)

    // undecodable bytes → null hash, and the end-to-end image-dedup path
    // (extract hashes → hamming banding) surfaces the resized twin
    assert(Multimodal.aHash64(Array[Byte](1, 2)).isNullAt(0))
    val df = mediaDf(Seq(1 -> src, 2 -> resized, 3 -> bos.toByteArray,
      4 -> Array[Byte](1, 2)))
    val pairs = graft.dedup.TextDedup.hammingCandidates(
        Multimodal.extractImageHashes(df, "id", "content").na.drop(),
        "id", "ahash", maxDist = 4, bits = 64)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(pairs.contains((1, 2)), s"twin not found in $pairs")
  }

  test("WAV round-trip: PcmWavEncoder bytes decode through javax.sound with exact features") {
    // a deterministic "waveform": byte i = 128 + 100*sin-ish ramp, values known
    val pcm = Array.tabulate[Byte](1600)(i => ((i * 7) % 256).toByte)
    val df = mediaDf(Seq(1 -> pcm, 2 -> Array[Byte](1, 2, 3) /* not audio */))
    val wav = Multimodal.resizeContent(df, "content",
      Multimodal.PcmWavEncoder(sampleRate = 8000))
    val out = Multimodal.extractAudioFeatures(wav, "id", "content")
      .collect().map(r => r.getInt(0) -> r).toMap

    val r1 = out(1)
    assert(r1.getInt(1) === 8000 && r1.getInt(2) === 1)
    assert(r1.getLong(3) === 1600) // frames = payload bytes (8-bit mono)
    assert(r1.getLong(4) === 200)  // 1600 frames / 8 kHz = 200 ms
    val expectedAmp = pcm.map(b => math.abs((b & 0xff) - 128).toLong).sum
    assert(r1.getLong(5) === expectedAmp)

    // the 3-byte payload still wraps into a VALID (tiny) wav
    assert(out(2).getInt(1) === 8000 && out(2).getLong(3) === 3)
  }

  test("audio frame features: exact per-frame energy/crossings, modulator, garbage drops") {
    // 5 hand-computed samples after centering (s-128): 10, -20, 30, -40, 5
    val pcm = Array[Byte](138.toByte, 108.toByte, 158.toByte, 88.toByte, 133.toByte)
    val df = mediaDf(Seq(1 -> pcm, 2 -> Array[Byte](9, 9) /* wraps to a valid 2-sample wav */))
    val wav = Multimodal.resizeContent(df, "content",
      Multimodal.PcmWavEncoder(sampleRate = 8000))
    val rows = Multimodal.extractAudioFrameFeatures(wav, "id", "content", frameLen = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
    // frame 0 = [10,-20,30]: energy 100+400+900, crossings at both adjacencies
    val f0 = rows((1, 0))
    assert(f0.getInt(2) === 3 && f0.getLong(3) === 1400L && f0.getLong(4) === 2L)
    // frame 1 = [-40,5]: partial tail, one crossing
    val f1 = rows((1, 1))
    assert(f1.getInt(2) === 2 && f1.getLong(3) === 1625L && f1.getLong(4) === 1L)
    // crossings are counted WITHIN frames only: the 30 → -40 boundary flip
    // must not appear in either frame (2+1 crossings total, not 4)
    assert(rows.keys.count(_._1 == 1) === 2)

    // char-class modulation: 'a'(97) stays below zero, ' '(32) flips above
    val mod = Multimodal.CharClassModulator.transformBatch(
      Seq(Array[Byte]('a'.toByte, ' '.toByte, 'z'.toByte))).head
    assert(((mod(0) & 0xff) - 128) === (97 - 128))
    assert(((mod(1) & 0xff) - 128) === (256 - 32 - 128))
    assert(((mod(2) & 0xff) - 128) === (122 - 128))
  }

  test("NULL content contract: transforms pass null through, extractors emit 0 rows") {
    val s2 = spark
    import s2.implicits._
    val df = Seq((1, "x"), (2, null.asInstanceOf[String]))
      .toDF("id", "t").withColumn("content",
        org.apache.spark.sql.functions.col("t").cast("binary"))
    // resize: null in → null out, non-null transformed, row count kept
    val resized = Multimodal.resizeContent(df, "content",
      Multimodal.CharClassModulator).collect().map(r => r.getInt(0) -> r).toMap
    assert(resized(2).isNullAt(resized(2).fieldIndex("content")))
    assert(!resized(1).isNullAt(resized(1).fieldIndex("content")))
    // frame sampler: null yields zero frames, no NPE
    assert(Multimodal.sampleFrames(df, "id", "content",
      Multimodal.FakeFrameSampler(1, 1))
      .filter(org.apache.spark.sql.functions.col("id") === 2).count() === 0)
    // every real parser treats null as unparseable
    assert(graft.multimodal.Y4m.parseHeader(null).isEmpty)
    assert(graft.multimodal.Avi.parseHeader(null).isEmpty)
    assert(graft.multimodal.Gif.parse(null).isEmpty)
    assert(Multimodal.ImageIoDecoder.decode(null).isEmpty)
    assert(Multimodal.WavDecoder.samples8(null).isEmpty)

    // the Blobs seam, per operator: fact extractors give one all-null row
    // for a NULL or garbage blob, explode operators give 0 rows, and a
    // STRING content column fails at call time — no job — naming it
    import graft.multimodal.{Apng, Avi, Gif, Spectrogram, Tone, Y4m}
    import graft.sources.{Warc, Zips}
    type Op = (org.apache.spark.sql.DataFrame, String, String) =>
      org.apache.spark.sql.DataFrame
    val facts: Seq[(String, Op)] = Seq(
      "extractImageFeatures" -> (Multimodal.extractImageFeatures(_, _, _)),
      "extractImageHashes" -> (Multimodal.extractImageHashes(_, _, _)),
      "extractImageHistograms" -> (Multimodal.extractImageHistograms(_, _, _)),
      "augmentImages" -> (Multimodal.augmentImages(_, _, _)),
      "extractEdgeFeatures" -> (Multimodal.extractEdgeFeatures(_, _, _)),
      "extractAudioFeatures" -> (Multimodal.extractAudioFeatures(_, _, _)),
      "Y4m.extractVideoFeatures" -> (Y4m.extractVideoFeatures(_, _, _)),
      "Avi.extractVideoFeatures" -> (Avi.extractVideoFeatures(_, _, _)))
    val explodes: Seq[(String, Op)] = Seq(
      "extractAudioFrameFeatures" -> (Multimodal.extractAudioFrameFeatures(_, _, _)),
      "extractImagePatches" -> (Multimodal.extractImagePatches(_, _, _)),
      "Apng.extractFrameFeatures" -> (Apng.extractFrameFeatures(_, _, _)),
      "Avi.extractFrameFeatures" -> (Avi.extractFrameFeatures(_, _, _)),
      "Avi.extractVideoFrameFeatures" -> (Avi.extractVideoFrameFeatures(_, _, _)),
      "Gif.extractVideoFrameFeatures" -> (Gif.extractVideoFrameFeatures(_, _, _)),
      "Y4m.extractFrameFeatures" -> (Y4m.extractFrameFeatures(_, _, _)),
      "Y4m.extractVideoFrameFeatures" -> (Y4m.extractVideoFrameFeatures(_, _, _)),
      "Y4m.extractTemporalFeatures" -> (Y4m.extractTemporalFeatures(_, _, _)),
      "Tone.extractToneFeatures" -> (Tone.extractToneFeatures(_, _, _)),
      "Spectrogram.extractSpectrogram" -> (Spectrogram.extractSpectrogram(_, _, _)),
      "Warc.readArchives" -> (Warc.readArchives(_, _, _)),
      "Zips.readZips" -> (Zips.readZips(_, _, _)))
    val blobs = mediaDf(Seq(2 -> null, 3 -> Array[Byte](9, 9, 9, 9)))
    val strings = Seq((1, "not bytes")).toDF("id", "text_blob")
    val (_, jobs) = TestSession.jobsDuring {
      for ((name, op) <- facts ++ explodes) {
        val e = intercept[IllegalArgumentException](op(strings, "id", "text_blob"))
        assert(e.getMessage.contains("text_blob must be BINARY"), s"$name: $e")
      }
    }
    assert(jobs === 0, "a STRING content column ran a job")
    for ((name, op) <- facts) {
      val rows = op(blobs, "id", "content").collect()
      assert(rows.map(_.getInt(0)).sorted.toSeq === Seq(2, 3), name)
      rows.foreach(r => assert((1 until r.length).forall(r.isNullAt),
        s"$name: id ${r.getInt(0)} has a non-null fact"))
    }
    for ((name, op) <- explodes)
      assert(op(blobs, "id", "content").count() === 0L, name)
  }

  test("Blobs over a Row mapPartitions: no extra (de)serialization, columns by name") {
    import graft.multimodal.Y4m
    import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, SerializeFromObject}
    val s2 = spark
    import s2.implicits._
    // id and content sit behind another column: a positional read is wrong
    val df = Seq(("a", Array.tabulate[Byte](200)(i => (i * 3).toByte), 7),
      ("b", null.asInstanceOf[Array[Byte]], 8)).toDF("tag", "content", "id")
    val vids = Multimodal.resizeContent(df, "content", Y4m.Y4mEncoder(8, 8))
    val direct = Y4m.extractVideoFrameFeatures(vids, "id", "content")
    val narrow = Y4m.extractVideoFrameFeatures(
      vids.select("id", "content"), "id", "content")
    val plan = direct.queryExecution.optimizedPlan
    assert(plan.collect { case s: SerializeFromObject => s }.size === 1, plan)
    assert(plan.collect { case d: DeserializeToObject => d }.size === 1, plan)
    assert(direct.columns.toSeq === "id" +: Y4m.VideoFrameFeatureType.fieldNames.toSeq)
    val rows = direct.collect().map(_.toSeq).sortBy(_(6).asInstanceOf[Int])
    assert(rows.map(r => (r(0), r(5), r(6))).toSeq ===
      Seq((7, 3L, 0), (7, 3L, 1), (7, 3L, 2))) // 3 whole 64-byte planes; null → 0 rows
    assert(rows.map(_.toSeq).toSeq ===
      narrow.collect().map(_.toSeq).sortBy(_(6).asInstanceOf[Int]).toSeq)
  }

  test("ImageIo pool: one writer per thread and format, reused") {
    import graft.multimodal.ImageIo
    val mine = ImageIo.writer("png")
    assert(ImageIo.writer("png") eq mine)
    assert(ImageIo.reader("png") eq ImageIo.reader("png"))
    assert(!(ImageIo.writer("gif") eq mine))
    var theirs: javax.imageio.ImageWriter = null
    val t = new Thread(() => theirs = ImageIo.writer("png"))
    t.start(); t.join()
    assert(theirs != null && !(theirs eq mine))
  }

  test("WavDecoder yields null features for non-audio bytes, row preserved") {
    val df = mediaDf(Seq(7 -> Array[Byte](9, 9, 9, 9)))
    val out = Multimodal.extractAudioFeatures(df, "id", "content").collect().head
    assert(out.getInt(0) === 7)
    (1 to 5).foreach(i => assert(out.isNullAt(i), s"field $i should be null"))
  }

  test("ImageIoDecoder as MediaDecoder: decoded-pixel features via the batched seam") {
    val df = mediaDf(Seq(1 -> png(5, 4)))
    val row = Multimodal.extractFeatures(df, "id", "content",
      decoder = Multimodal.ImageIoDecoder, batchSize = 8).collect().head
    assert(row.getInt(2) === 5) // head = decoded width, not a raw byte
    assert(row.getLong(3) >= 0) // pixel hash, not byte sum
  }

  // ---- video: Y4M container round-trip ----------------------------------

  test("Y4M round-trip: encode → header facts, exact Y planes, sampling") {
    import graft.multimodal.Y4m
    // 3.5 frames of 8×8 payload: the trailing half frame must be dropped
    val payload = Array.tabulate[Byte](224)(i => ((i * 7 + 3) % 251).toByte)
    val y4m = Y4m.Y4mEncoder(8, 8).encode(payload)

    val hd = Y4m.parseHeader(y4m).get
    assert(hd.width === 8 && hd.height === 8)
    assert(hd.fpsNum === 25 && hd.fpsDen === 1 && hd.colorspace === "C420")
    assert(hd.frameSize === 96) // 64 Y + 16 U + 16 V

    val fs = Y4m.frames(y4m, hd).toSeq
    assert(fs.map(_._1) === Seq(0, 1, 2))
    fs.foreach { case (k, y) =>
      assert(y.toSeq === payload.slice(k * 64, k * 64 + 64).toSeq,
        s"frame $k Y plane mismatch")
    }

    // features row: container facts + frame count
    val feat = Y4m.videoFeatures(y4m)
    assert(feat === Row(8, 8, 25, 1, 3L))

    // frame sampling on the operator: every 2nd frame
    val sampled = Y4m.extractFrameFeatures(mediaDf(Seq(1 -> y4m)), "id", "content",
      everyN = 2).collect().map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(sampled.map(_._1) === Seq(0, 2))
  }

  test("Y4M parser: foreign headers, truncation, garbage") {
    import graft.multimodal.Y4m
    // header with extension tags and per-frame params (other tools emit these)
    val y = Array.tabulate[Byte](16)(i => (i * 11).toByte)
    val foreign = ("YUV4MPEG2 W4 H4 F30001:1000 It A0:0 Cmono XYSCSS=MONO\n" +
      "FRAME Ixyz\n").getBytes("US-ASCII") ++ y
    val hd = Y4m.parseHeader(foreign).get
    assert(hd.colorspace === "Cmono" && hd.frameSize === 16)
    assert(hd.fpsNum === 30001 && hd.fpsDen === 1000)
    val fs = Y4m.frames(foreign, hd).toSeq
    assert(fs.map(_._1) === Seq(0) && fs.head._2.toSeq === y.toSeq)

    // truncated mid-frame: the partial frame must not appear
    val full = Y4m.Y4mEncoder(8, 8).encode(Array.fill[Byte](128)(5))
    val cut = java.util.Arrays.copyOf(full, full.length - 10)
    assert(Y4m.videoFeatures(cut) === Row(8, 8, 25, 1, 1L))

    // header-only stream: zero frames, facts intact
    val empty = Y4m.Y4mEncoder(8, 8).encode(Array.empty[Byte])
    assert(Y4m.videoFeatures(empty) === Row(8, 8, 25, 1, 0L))

    // not Y4M at all → all-null features
    assert(Y4m.videoFeatures("RIFFxxxx".getBytes("US-ASCII")) ===
      Row(null, null, null, null, null))
    // malformed numerics → all-null, not an exception
    assert(Y4m.videoFeatures("YUV4MPEG2 Wx H4 F25:1\n".getBytes("US-ASCII")) ===
      Row(null, null, null, null, null))
  }

  test("Y4M through the Spark seams: features, frame sums, undecodables") {
    import graft.multimodal.Y4m
    val p1 = Array.tabulate[Byte](130)(i => (i % 200).toByte) // 2 frames + tail
    val v1 = Y4m.Y4mEncoder(8, 8).encode(p1)
    val df = mediaDf(Seq(1 -> v1, 2 -> Array[Byte](0, 1, 2)))

    val facts = Y4m.extractVideoFeatures(df, "id", "content")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(facts(1).getInt(1) === 8 && facts(1).getLong(5) === 2L)
    (1 to 5).foreach(i => assert(facts(2).isNullAt(i)))

    val frames = Y4m.extractFrameFeatures(df, "id", "content", everyN = 1)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(frames.keySet === Set(1 -> 0, 1 -> 1)) // id 2 yields no frames
    assert(frames(1 -> 0) === p1.slice(0, 64).map(b => (b & 0xff).toLong).sum)
    assert(frames(1 -> 1) === p1.slice(64, 128).map(b => (b & 0xff).toLong).sum)
  }

  test("MJPEG-AVI round-trip: RIFF facts, constant-block JPEG exactness, sampling, garbage") {
    import graft.multimodal.Avi
    val payload = "Hello, AVI!".getBytes("US-ASCII")
    val avi = Avi.MjpegAviEncoder(width = 8, height = 8, fps = 25).encode(payload)
    // container facts straight from the avih header
    val hd = Avi.parseHeader(avi).get
    assert(hd.width === 8 && hd.height === 8)
    assert(hd.usPerFrame === 40000 && hd.totalFrames === payload.length)
    // every frame chunk is a real JPEG (SOI marker) decodable by ImageIO,
    // and quality-1.0 constant blocks recover the payload byte exactly
    val fs = Avi.frames(avi, hd).toSeq
    assert(fs.map(_._1) === (payload.indices))
    fs.foreach { case (_, jpeg) =>
      assert((jpeg(0) & 0xff) === 0xff && (jpeg(1) & 0xff) === 0xd8,
        "frame chunk is not a JPEG (missing SOI marker)")
    }
    val df = mediaDf(Seq(1 -> avi, 2 -> Array[Byte](1, 2, 3)))
    val facts = Avi.extractVideoFeatures(df, "id", "content")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(facts(1).getInt(1) === 8 && facts(1).getLong(4) === payload.length.toLong)
    (1 to 4).foreach(i => assert(facts(2).isNullAt(i))) // garbage → null row
    val sums = Avi.extractFrameFeatures(df, "id", "content", everyN = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val wantIdx = payload.indices.filter(_ % 2 == 0).map(1 -> _).toSet
    assert(sums.keySet === wantIdx)
    wantIdx.foreach { case (_, k) =>
      assert(sums(1 -> k) === 64L * (payload(k) & 0xff),
        s"frame $k: JPEG constant-block round-trip not exact")
    }
  }

  test("AVI one-pass facts+frames; corrupt frame inside a valid container degrades to null") {
    import graft.multimodal.Avi
    val payload = "GraftAVI".getBytes("US-ASCII")
    val avi = Avi.MjpegAviEncoder(width = 8, height = 8, fps = 25).encode(payload)
    val df = mediaDf(Seq(1 -> avi))
    val combined = Avi.extractVideoFrameFeatures(df, "id", "content", everyN = 2)
      .collect().map(r => (r.getInt(0), r.getInt(5)) -> r).toMap
    assert(combined.keySet === payload.indices.filter(_ % 2 == 0).map(1 -> _).toSet)
    combined.foreach { case ((_, k), r) =>
      assert(r.getInt(1) === 8 && r.getInt(2) === 8 && r.getInt(3) === 40000)
      assert(r.getLong(4) === payload.length.toLong)
      assert(r.getLong(6) === 64L * (payload(k) & 0xff))
    }
    // corrupt a frame's JPEG scan bytes in place: valid RIFF tree, broken
    // entropy data — the decode must yield a NULL sum (NonFatal swallow),
    // not kill the task, for ANY RuntimeException the JDK reader throws
    val hd = Avi.parseHeader(avi).get
    val corrupted = avi.clone()
    val (_, firstJpeg) = Avi.frames(avi, hd).next()
    // locate frame 0's bytes inside movi and trash everything after SOI
    val moviSlice = corrupted.slice(hd.moviStart, hd.moviEnd)
    val off = hd.moviStart + moviSlice.indexOfSlice(firstJpeg)
    (2 until firstJpeg.length).foreach(i => corrupted(off + i) = 0x55.toByte)
    val got = Avi.extractVideoFrameFeatures(
        mediaDf(Seq(7 -> corrupted)), "id", "content", everyN = 2)
      .collect().map(r => r.getInt(5) -> (if (r.isNullAt(6)) None else Some(r.getLong(6))))
      .toMap
    assert(got.contains(0) && got(0).isEmpty,
      s"corrupt frame should decode to null, got ${got.get(0)}")
    assert(got.keys.count(_ > 0) > 0, "later intact frames must survive")
  }

  test("Y4M temporal deltas: exact |Y_k - Y_{k-1}| sums, edge rows absent") {
    import graft.multimodal.Y4m
    val p = Array.tabulate[Byte](192)(i => ((i * 13 + 7) % 256).toByte) // 3 frames
    val v = Y4m.Y4mEncoder(8, 8).encode(p)
    val single = Y4m.Y4mEncoder(8, 8).encode(p.slice(0, 64)) // 1 frame
    val df = mediaDf(Seq(1 -> v, 2 -> single, 3 -> Array[Byte](9, 9)))
    val got = Y4m.extractTemporalFeatures(df, "id", "content")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    def expect(k: Int) = (0 until 64).map(i =>
      math.abs((p(k * 64 + i) & 0xff) - (p((k - 1) * 64 + i) & 0xff)).toLong).sum
    // only id 1 has >=2 frames; deltas start at frame 1
    assert(got.keySet === Set(1 -> 1, 1 -> 2))
    assert(got(1 -> 1) === expect(1) && got(1 -> 2) === expect(2))
  }

  test("animated GIF: lossless LZW pixels, per-frame delays, sampling, garbage") {
    import graft.multimodal.Gif
    // 3 frames of arbitrary bytes — LZW must round-trip them EXACTLY
    val payload = Array.tabulate[Byte](192)(i => ((i * 37 + 11) % 256).toByte)
    val gif = Gif.GifEncoder(width = 8, height = 8).encode(payload)
    val p = Gif.parse(gif).get
    assert(p.width === 8 && p.height === 8)
    assert(p.frames.map(_.idx) === Vector(0, 1, 2))
    assert(p.frames.map(_.delayCs) === Vector(4, 5, 6)) // 4 + (k % 5)
    p.frames.foreach { f =>
      val img = Gif.decodeFrame(f)
      for (y <- 0 until 8; x <- 0 until 8)
        assert((img.getRGB(x, y) & 0xff) === (payload(f.idx * 64 + y * 8 + x) & 0xff),
          s"frame ${f.idx} pixel ($x,$y): LZW round-trip not exact")
    }
    // one-pass extractor: facts + sampled frames; garbage id contributes 0 rows
    val df = mediaDf(Seq(1 -> gif, 2 -> Array[Byte](1, 2, 3)))
    val rows = Gif.extractVideoFrameFeatures(df, "id", "content", everyN = 2)
      .collect().map(r => (r.getInt(0), r.getInt(4)) -> r).toMap
    assert(rows.keySet === Set(1 -> 0, 1 -> 2))
    rows.foreach { case ((_, k), r) =>
      assert(r.getInt(1) === 8 && r.getInt(2) === 8 && r.getLong(3) === 3L)
      assert(r.getInt(5) === 4 + (k % 5))
      assert(r.getLong(6) ===
        payload.slice(k * 64, k * 64 + 64).map(b => (b & 0xff).toLong).sum)
    }
    // whole-frames-only: a trailing partial chunk is dropped
    val short = Gif.GifEncoder(width = 8, height = 8).encode(payload.take(100))
    assert(Gif.parse(short).get.frames.size === 1)
  }

  test("samples8 chunk walk agrees with the javax.sound reference on every input class") {
    import graft.multimodal.Multimodal.WavDecoder
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def wav(pcm: Array[Byte], channels: Int = 1, bits: Int = 8,
        tag: Int = 1, extraChunk: Boolean = false): Array[Byte] = {
      val rate = 8000
      val blockAlign = channels * (bits / 8)
      val extra = if (extraChunk)
        "LIST".getBytes("US-ASCII") ++ le32(4) ++ "INFO".getBytes("US-ASCII")
      else Array.empty[Byte]
      val pad = pcm.length % 2
      val body = "WAVE".getBytes("US-ASCII") ++
        extra ++
        "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(tag) ++ le16(channels) ++
        le32(rate) ++ le32(rate * blockAlign) ++ le16(blockAlign) ++ le16(bits) ++
        "data".getBytes("US-ASCII") ++ le32(pcm.length) ++ pcm ++
        Array.fill[Byte](pad)(0)
      "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    }
    val pcmOdd = Array.tabulate[Byte](101)(i => ((i * 37) % 256).toByte)
    val pcmEven = Array.tabulate[Byte](64)(i => ((i * 91 + 5) % 256).toByte)
    val cases: Seq[(String, Array[Byte])] = Seq(
      "canonical odd (pad byte)" -> wav(pcmOdd),
      "canonical even" -> wav(pcmEven),
      "empty data" -> wav(Array.empty[Byte]),
      "extra LIST chunk before fmt" -> wav(pcmEven, extraChunk = true),
      "16-bit rejected" -> wav(pcmEven, bits = 16),
      "stereo rejected" -> wav(pcmEven, channels = 2),
      "non-PCM tag rejected" -> wav(pcmEven, tag = 7),
      "encoder output odd" ->
        Multimodal.PcmWavEncoder(8000).transformBatch(Seq(pcmOdd)).head,
      "encoder output even" ->
        Multimodal.PcmWavEncoder(8000).transformBatch(Seq(pcmEven)).head,
      "truncated header" -> wav(pcmEven).take(20),
      "truncated data" -> wav(pcmEven).dropRight(10),
      "garbage" -> Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13))
    cases.foreach { case (name, bytes) =>
      val fast = WavDecoder.samples8(bytes)
      val ref = WavDecoder.samples8ViaAudioSystem(bytes)
      assert(fast.map(_.toSeq) === ref.map(_.toSeq), s"case: $name")
    }
    // and the decode is genuinely the zero-centered PCM payload
    assert(WavDecoder.samples8(wav(pcmOdd)).get.toSeq ===
      pcmOdd.toSeq.map(b => (b & 0xff) - 128))
  }

  test("tokenRasterPng: edge/repeated/trailing spaces match the normalized text") {
    // the explicit empty-token filter is the only tokenization Java's
    // split(' ') (drops trailing empties) and the oracle's string_split
    // (keeps them) agree on — rasters must be byte-identical across all
    // whitespace-degenerate forms of the same token multiset
    val norm = Multimodal.tokenRasterPng("alpha beta gamma")
    for (v <- Seq("alpha beta gamma ", " alpha beta gamma",
        "alpha  beta   gamma", "alpha beta gamma   "))
      assert(Multimodal.tokenRasterPng(v).toSeq === norm.toSeq, s"'$v'")
    // NULL text → the all-zero raster, deterministically (no NPE)
    assert(Multimodal.tokenRasterPng(null).toSeq ===
      Multimodal.tokenRasterPng("").toSeq)
  }
}
