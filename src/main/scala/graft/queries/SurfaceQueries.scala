package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Tables, sql => gsql}
import graft.multimodal.Multimodal
import graft.pipeline.{PipelineStage, StageConfig}
import graft.sources.{Sources, XmlSource, XmlSourceConfig}
import graft.streaming.Streams

/** Oracle-checked queries for the SQL surface (Q1-Q4), sources (S2-S4),
  * streaming (ST1-ST3), and multimodal plumbing. */
object SurfaceQueries {
  private type Q = (SparkSession, String) => DataFrame

  /** Shared st7/st10 front half: land events in a fresh dir, stream it
    * back, and project the click / purchase join sides. One definition so
    * the two interval-join queries can only differ in join type. */
  /** The ONE hop-tone spectrogram pipeline (content synthesis → HopToneGen
    * → WAV wrap → framed FFT), shared by mm16 (batch) and st20 (the same
    * module under Structured Streaming) so the two can't drift. */
  private def hopSpectrogram(docs: DataFrame): DataFrame = {
    val sg = graft.multimodal.Spectrogram
    val synth = docs.withColumn("content",
      expr("cast(array_join(transform(sequence(0, 5), " +
        "j -> chr(48 + (doc_id + j) % 4)), '') as binary)"))
    val wav = Multimodal.resizeContent(
      Multimodal.resizeContent(synth, "content", sg.HopToneGen()),
      "content", Multimodal.PcmWavEncoder(sampleRate = sg.Rate))
    sg.extractSpectrogram(wav, "doc_id", "content")
  }

  /** mm13's pixel formula as shared CTEs (t → tk → px(doc_id, j, v)):
    * pixel j is the 31-polynomial-mod-256 low byte of the quantile-sampled
    * sorted-distinct token — used by the mm14 patch and mm17 convolution
    * oracles. */
  private val rasterPxSql: String =
    "t AS (SELECT doc_id, list_sort(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS s FROM documents), " +
      "tk AS (SELECT doc_id, j, s[CAST((j * len(s)) // 64 AS BIGINT) + 1] AS tok " +
      "FROM t, unnest(generate_series(0, 63)) AS g(j)), " +
      "px AS (SELECT doc_id, j, " +
      "CASE WHEN tok IS NULL OR tok = '' THEN 0 ELSE " +
      "list_reduce([unicode(c) FOR c IN regexp_extract_all(tok, '(?s).')], " +
      "(a, c) -> (a * 31 + c) % 256) END AS v FROM tk)"

  /** One oracle prediction for both spectrogram runs (st20 IS mm16). */
  private val hopSpectrogramSql: String =
    "WITH f(k, freq, bin) AS (VALUES (0, 500, 16), (1, 750, 24), " +
      "(2, 1000, 32), (3, 1250, 40)), " +
      "hi AS (SELECT k, bin, count(*) AS n_high FROM f, " +
      "unnest(generate_series(0, 255)) AS g(i) " +
      "WHERE ((i * 2 * freq) // 8000) % 2 = 0 GROUP BY k, bin), " +
      "fr AS (SELECT d.doc_id, j, CAST((d.doc_id + j) % 4 AS INT) AS k " +
      "FROM documents d, unnest(generate_series(0, 5)) AS s(j)) " +
      "SELECT fr.doc_id AS doc_id, CAST(fr.j AS INT) AS frame_idx, " +
      "CAST(256 AS INT) AS n_samples, hi.n_high, " +
      "CAST(hi.bin AS INT) AS peak_bin " +
      "FROM fr JOIN hi ON fr.k = hi.k ORDER BY doc_id, frame_idx"

  private def clickPurchaseStreams(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.t(s, dir, "events")
    val tmp = graft.util.Scratch.dir("graft_joinsrc")
    ev.write.mode("overwrite").parquet(tmp)
    val stream = Streams.parquetStream(s, tmp, s.read.parquet(tmp).schema)
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    (clicks, purchases)
  }

  val queries: Map[String, Q] = Map(
    // ---- Q1: arbitrary SQL over registered bucket views -----------------
    // correlated scalar subqueries through the arbitrary-SQL surface —
    // Catalyst decorrelates both into aggregate joins (no per-row re-scan
    // of orders survives into the physical plan), which is exactly why the
    // SQL surface can take this shape at 100 TB. Integer-only arithmetic
    // keeps the oracle comparison exact
    "q10_correlated" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      gsql.SqlSurface.runSql(s,
        """SELECT c_custkey, c_name FROM customer c
          |WHERE (SELECT count(*) FROM orders o
          |       WHERE o.o_custkey = c.c_custkey
          |         AND o.o_orderpriority = '1-URGENT') * 5
          |    > (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey)
          |ORDER BY c_custkey""".stripMargin)
    },
    "sql1_arbitrary" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      gsql.SqlSurface.runSql(s,
        """SELECT n_name,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS spend,
          |       count(*) AS n
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA' AND o_orderstatus = 'O'
          |GROUP BY n_name ORDER BY n_name""".stripMargin)
    },
    // ---- Q1 emit path: rows → JSON records (deterministic manual build) --
    "sql2_row_emit" -> { (s, dir) =>
      Tables.t(s, dir, "nation")
        .select(format_string("{\"n_nationkey\":%d,\"n_name\":\"%s\"}",
          col("n_nationkey"), col("n_name")).as("record"))
        .orderBy("record")
    },
    // ---- Q2: deterministic subsample (hash-mod; sample() is seed-stable
    //      but not cross-engine) + Q4 test cap ----------------------------
    "sql3_subsample_cap" -> { (s, dir) =>
      Tables.t(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .orderBy("o_orderkey").limit(500)
        .select("o_orderkey", "o_totalprice")
    },
    // ---- S2: JSON column parse (events.props) ---------------------------
    "s2_json_parse" -> { (s, dir) =>
      val ev = Sources.parseJsonColumn(
        Tables.t(s, dir, "events"), "props",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType))))
      ev.select(col("event_id"), col("props_parsed.k").as("k"))
        .orderBy("event_id")
    },
    // ---- S3: XML → records round-trip (XML built from nation rows) ------
    "s3_xml_parse" -> { (s, dir) =>
      import s.implicits._
      val xml = Tables.t(s, dir, "nation")
        .select(format_string(
          "<nations><nation id=\"%d\"><name>%s</name><region>%d</region></nation></nations>",
          col("n_nationkey"), col("n_name"), col("n_regionkey")).as("doc"))
        .as[String]
      val parsed = XmlSource.parse(xml,
        XmlSourceConfig(rootElements = Seq("nation"), attributePrefix = "@"))
      // XML leaf values are strings; cast after parse
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("@id", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("region", org.apache.spark.sql.types.StringType)))
      parsed.toDF("record")
        .select(from_json(col("record"), schema).as("r"))
        .select(col("r.@id").cast("long").as("n_nationkey"),
          col("r.name").as("n_name"),
          col("r.region").cast("long").as("n_regionkey"))
        .orderBy("n_nationkey")
    },
    // ---- S-family format coverage: ORC round-trip — land a projection in
    // the OTHER columnar format and aggregate it back; values must survive
    // bit-exactly (the oracle aggregates the parquet original) ------------
    "s8_orc_roundtrip" -> { (s, dir) =>
      val tmp = graft.util.Scratch.dir("graft_orc")
      Tables.t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 6)))
            .cast("double").as("total"))
        .orderBy("o_orderstatus")
    },
    // ---- S-family format coverage: CSV round-trip (header + declared
    // read schema; integer/string columns only — exact by construction) ---
    "s9_csv_roundtrip" -> { (s, dir) =>
      val tmp = graft.util.Scratch.dir("graft_csv")
      Tables.t(s, dir, "events")
        .select("event_id", "user_id", "event_type")
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true")
        .schema("event_id LONG, user_id LONG, event_type STRING")
        .csv(tmp)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("uid_sum"))
        .orderBy("event_type")
    },
    // ---- s10: WARC web-archive ingestion (sources/Warc) — documents are
    // muxed into multi-record gzipped archives (50 records per blob, the
    // real CommonCrawl unit-of-work shape), then parsed back through the
    // REAL container+DEFLATE path; the oracle reconstructs every record
    // field straight from the table, so a header-layout, length-accounting
    // or gzip slip anywhere in the round-trip breaks the hash -------------
    "s10_warc_roundtrip" -> { (s, dir) =>
      import graft.sources.Warc
      val docs = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      implicit val e1 = org.apache.spark.sql.Encoders.product[(Long, Long, String, String)]
      implicit val e2 = org.apache.spark.sql.Encoders.scalaLong
      implicit val e3 = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.BINARY)
      val archives = docs
        .select(col("doc_id"), (col("doc_id") / 50).cast("long").as("arch"),
          col("source"), col("text"))
        .as[(Long, Long, String, String)]
        .groupByKey(_._2)
        .mapGroups { (arch, it) =>
          val recs = it.toSeq.sortBy(_._1).map { case (id, _, src, text) =>
            Warc.Record(s"http://$src.example.com/doc/$id",
              200 + (id % 2).toInt * 104, text)
          }
          (arch, Warc.writeArchive(recs, gzip = true))
        }
        .toDF("arch", "content")
      Warc.readArchives(archives, "arch", "content")
        .select(col("url"), col("status"), col("body"))
        .orderBy("url")
    },
    // ---- S4/sources: ZIP document-bundle round-trip (s11) — 50 docs per
    // archive through the REAL java.util.zip DEFLATE encoder + streaming
    // local-header walk (Zips), per-entry CRC verified. The oracle
    // recomputes name/size/body straight from the table, so an entry-
    // framing, DEFLATE, or UTF-8 slip anywhere breaks the hash -----------
    "s11_zip_roundtrip" -> { (s, dir) =>
      import graft.sources.Zips
      implicit val e1 = org.apache.spark.sql.Encoders.product[(Long, Long, String, String)]
      implicit val e2 = org.apache.spark.sql.Encoders.scalaLong
      implicit val e3 = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.BINARY)
      val archives = Tables.t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") / 50).cast("long").as("arch"),
          col("source"), col("text"))
        .as[(Long, Long, String, String)]
        .groupByKey(_._2)
        .mapGroups { (arch, it) =>
          val entries = it.toSeq.sortBy(_._1).map { case (id, _, src, text) =>
            Zips.Entry(s"$src/$id.txt",
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          (arch, Zips.writeZip(entries))
        }
        .toDF("arch", "content")
      Zips.readZips(archives, "arch", "content")
        .select(col("entry_name"), col("n_bytes"), col("body"))
        .orderBy("entry_name")
    },
    // ---- S4/multimodal: binary column + metadata + batched decode stub --
    "mm1_media_features" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
        .withColumn("content", col("text").cast("binary"))
      val withMeta = Multimodal.withMediaMeta(docs, "content", "text")
      Multimodal.extractFeatures(withMeta, "doc_id", "content")
        .orderBy("doc_id")
    },
    // ---- multimodal: frame sampling (1 blob → N frame rows) -------------
    "mm2_frame_sample" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
        .withColumn("content", col("text").cast("binary"))
      Multimodal.sampleFrames(docs, "doc_id", "content",
          Multimodal.FakeFrameSampler(frameBytes = 32, everyN = 2))
        .select(col("doc_id"), col("frame_idx"),
          col("frame").cast("string").as("frame"))
        .orderBy("doc_id", "frame_idx")
    },
    // ---- multimodal: resize/transcode (batched in-place byte rewrite) ---
    "mm3_resize" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
        .withColumn("content", col("text").cast("binary"))
      // 40 ≤ min document length → pure truncation (padding would need NUL
      // bytes, which the oracle engine can't hold in VARCHAR)
      Multimodal.resizeContent(docs, "content", Multimodal.FakeResizer(40))
        .select(col("doc_id"), col("content").cast("string").as("content"),
          length(col("content")).as("n"))
        .orderBy("doc_id")
    },
    // ---- multimodal audio: REAL WAV round-trip — wrap document bytes as
    // 8-bit mono PCM under a RIFF header (PcmWavEncoder), decode with the
    // JDK's javax.sound reader, emit container facts + exact amplitude sum.
    // The oracle predicts every feature independently from the text, so a
    // header-layout or decode bug cannot cancel out ---------------------
    "mm4_audio_features" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
        .withColumn("content", substring(col("text"), 1, 400).cast("binary"))
      val wav = Multimodal.resizeContent(docs, "content",
        Multimodal.PcmWavEncoder(sampleRate = 8000))
      Multimodal.extractAudioFeatures(wav, "doc_id", "content")
        .orderBy("doc_id")
    },
    // ---- mm11: frame-level audio analysis (the VAD feature pair — frame
    // energy + zero-crossing rate) over the REAL decoder. The char-class
    // modulator maps lowercase letters below the PCM zero point and
    // everything else above, so the text-derived waveform genuinely
    // oscillates (crossings land on word boundaries) and both features are
    // data-dependent; all integer math, oracle-predicted per frame from
    // the text bytes -----------------------------------------------------
    "mm11_audio_frames" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
        .withColumn("content", substring(col("text"), 1, 400).cast("binary"))
      val wav = Multimodal.resizeContent(
        Multimodal.resizeContent(docs, "content", Multimodal.CharClassModulator),
        "content", Multimodal.PcmWavEncoder(sampleRate = 8000))
      Multimodal.extractAudioFrameFeatures(wav, "doc_id", "content", frameLen = 100)
        .orderBy("doc_id", "frame_idx")
    },
    // ---- mm13: PIXEL-EXACT image analytics — 4-bin luma histogram of the
    // token-raster PNG through the REAL ImageIO encode/decode round-trip.
    // Pixel j is hashCode&0xff of a sampled token = a 31-polynomial mod
    // 256, so the oracle predicts EVERY pixel from text — the first image
    // query where the hash pins the full decoded raster, not a derived
    // hash or containment audit like mm5 --------------------------------
    "mm13_image_histogram" -> { (s, dir) =>
      val toPng = udf(Multimodal.tokenRasterPng _)
      val docs = Tables.t(s, dir, "documents")
        .withColumn("png", toPng(col("text")))
      Multimodal.extractImageHistograms(docs, "doc_id", "png")
        .orderBy("doc_id")
    },
    // ---- mm18: geometric augmentation — horizontal flip + 90°-clockwise
    // rotation of the decoded token raster as REAL pixel moves, each
    // variant pinned by the exact position-weighted luma sum (weight
    // x + 8y + 1 on the TRANSFORMED image). The oracle reweights the
    // SOURCE pixel stream in closed form: orig j+1, hflip
    // (7−j%8)+8·(j/8)+1, rot90 (7−j/8)+8·(j%8)+1 — any axis/transpose
    // slip moves luma between weights and hash-fails -----------------------
    "mm18_image_augment" -> { (s, dir) =>
      val toPng = udf(Multimodal.tokenRasterPng _)
      val docs = Tables.t(s, dir, "documents")
        .withColumn("png", toPng(col("text")))
      Multimodal.augmentImages(docs, "doc_id", "png")
        .orderBy("doc_id")
    },
    // ---- mm14: ViT-style patchify — the 8×8 token-raster PNG decoded by
    // the REAL ImageIO round-trip and split into four 4×4 patches (the
    // patch-embedding front door of a vision encoder), exact integer luma
    // stats per patch. Same pixel-exact regime as mm13: every pixel is
    // hashCode&0xff of a sampled token, so the oracle predicts each
    // patch's sum/min/max from text alone; a row-major patch-order or
    // grid-arithmetic slip shifts pixels between patches and hash-fails -
    "mm14_image_patches" -> { (s, dir) =>
      val toPng = udf(Multimodal.tokenRasterPng _)
      val docs = Tables.t(s, dir, "documents")
        .withColumn("png", toPng(col("text")))
      Multimodal.extractImagePatches(docs, "doc_id", "png")
        .orderBy("doc_id", "patch_idx")
    },
    // ---- mm17: Sobel edge energy — an integer-exact 3×3 convolution over
    // the decoded 8×8 token raster (real ImageIO round-trip), the classic
    // blur/quality gate of an image-curation stage. |gx|+|gy| avoids the
    // sqrt, so the oracle replays the FULL convolution from text via
    // mm13's pixel formula — a kernel-sign, border-handling, or
    // row/column-major slip shifts gradients and hash-fails -------------
    "mm17_image_edges" -> { (s, dir) =>
      val toPng = udf(Multimodal.tokenRasterPng _)
      val docs = Tables.t(s, dir, "documents")
        .withColumn("png", toPng(col("text")))
      Multimodal.extractEdgeFeatures(docs, "doc_id", "png")
        .orderBy("doc_id")
    },
    // ---- mm12: spectral tone classification — per-doc square-wave tone
    // (index = doc_id % 4, integer-exact phase math) → real PCM/WAV wrap →
    // real javax.sound decode → Goertzel argmax over the 4 candidate
    // bins. The oracle predicts the detected index AND the exact
    // high-sample count from the same integer formula (no float
    // replication — detection margins are orders of magnitude, see Tone) -
    "mm12_audio_tone" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
        .withColumn("content",
          expr("chr(48 + doc_id % 4)").cast("binary"))
      val wav = Multimodal.resizeContent(
        Multimodal.resizeContent(docs, "content", graft.multimodal.Tone.ToneGen()),
        "content", Multimodal.PcmWavEncoder(sampleRate = graft.multimodal.Tone.Rate))
      graft.multimodal.Tone.extractToneFeatures(wav, "doc_id", "content")
        .orderBy("doc_id")
    },
    // ---- mm16: STFT spectrogram — frequency-hopping square wave (frame j's
    // tone = (doc_id + j) % 4, 6 frames × 256 samples, integer-exact phase
    // math) → real PCM/WAV wrap → real chunk-walk decode → hand-rolled
    // radix-2 FFT per frame → dominant non-DC bin. Each candidate lands
    // exactly on bin f·256/8000 ∈ {16,24,32,40} (no leakage) and the
    // fundamental beats the strongest harmonic ≥2.4× in amplitude, so the
    // oracle predicts every frame's peak bin AND exact high-sample count
    // from the integer formula — full-spectrum sibling of mm12's Goertzel -
    "mm16_spectrogram" -> { (s, dir) =>
      hopSpectrogram(Tables.t(s, dir, "documents"))
        .orderBy("doc_id", "frame_idx")
    },
    // ---- st20: the SAME spectrogram module as a streaming stage — codec
    // decode + FFT are stateless narrow work, so the batch pipeline runs
    // under Structured Streaming unchanged (append mode, no watermark/
    // state), extending the batch-module-reuse contract (ST4) from column
    // transforms to the mapPartitions codec/DSP path. Same oracle as mm16 -
    "st20_stream_spectrogram" -> { (s, dir) =>
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val raw = graft.streaming.Streams.parquetStream(
        s, s"$dir/documents.parquet", schema)
      graft.streaming.Streams.runToParquet(raw, hopSpectrogram)
        .orderBy("doc_id", "frame_idx")
    },
    // ---- multimodal audio resample: encode → REAL decode → keep every
    // 4th sample → re-encode → REAL decode again. The oracle predicts the
    // decimated container facts and exact amplitude sum straight from the
    // text, so a slip anywhere in the double round-trip (header sizes,
    // sample indexing, rate math) breaks the comparison ------------------
    "mm8_audio_resample" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
        .withColumn("content", substring(col("text"), 1, 400).cast("binary"))
      val wav = Multimodal.resizeContent(docs, "content",
        Multimodal.PcmWavEncoder(sampleRate = 8000))
      val resampled = Multimodal.resizeContent(wav, "content",
        Multimodal.WavDecimator(factor = 4))
      Multimodal.extractAudioFeatures(resampled, "doc_id", "content")
        .orderBy("doc_id")
    },
    // ---- multimodal image dedup e2e: deterministic 8×8 PNG per doc whose
    // pixels sample the doc's SORTED token hashes, then the REAL decode→
    // aHash→hamming-banded pairing path. Oracle-checked (round 8) as a
    // CONTAINMENT audit in dd2_poly's verdict-query style: identical
    // distinct-token SETS render byte-identical PNGs, which must decode to
    // byte-identical aHashes, so every twin-set pair must appear among the
    // hamming candidates — `captured` = 0 on any miss hash-fails against
    // the oracle's literal 1. The oracle can't decode PNG, but it CAN
    // enumerate twin-set pairs exactly; the audit pins the whole raster→
    // PNG→ImageIO-decode→aHash→banding pipeline's determinism and the
    // banding's losslessness. (A jacc>=T audit for T<1 is NOT sound here:
    // measured on this corpus, even jacc-0.9 pairs reach hamming 34 — the
    // quantile-sampled raster shifts globally under token insertion.
    // MultimodalSpec still pins aHash semantics on known pixels.) ---------
    "mm5_image_neardup" -> { (s, dir) =>
      // PNG encode + real-decode aHash per doc runs IN the scan stage
      val toPng = udf(Multimodal.tokenRasterPng _)
      val docs = graft.util.Spread(Tables.t(s, dir, "documents"))
        .withColumn("png", toPng(col("text")))
      val hashes = Multimodal.extractImageHashes(docs, "doc_id", "png")
      val cand = graft.dedup.TextDedup.hammingCandidates(hashes.na.drop(),
          "doc_id", "ahash", maxDist = 4, bits = 64)
        .withColumn("__hit", lit(1))
      // twin-set pairs via an md5 set-fingerprint equi-join (never a text
      // comparison shuffle of full documents)
      // filter('') matches tokenRasterPng's tokenization: Spark split keeps
      // trailing empties, Java String.split drops them — the twin key must
      // see the same token set the raster samples
      val keyed = Tables.t(s, dir, "documents")
        .select(col("doc_id"), md5(concat_ws("\u001E",
          sort_array(array_distinct(filter(split(col("text"), " "),
            t => t =!= ""))))).as("__k"))
      val twins = keyed.as("a").join(keyed.as("b"),
          col("a.__k") === col("b.__k") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      twins.join(cand,
          twins("da") === cand("doc_a") && twins("db") === cand("doc_b"),
          "left")
        .select(col("da").as("doc_a"), col("db").as("doc_b"),
          coalesce(col("__hit"), lit(0)).cast("int").as("captured"))
        .orderBy("doc_a", "doc_b")
    },
    // ---- multimodal video: REAL Y4M round-trip — wrap document bytes as
    // 8×8 C420 Y planes under a YUV4MPEG2 header (Y4mEncoder), demux with
    // the pure-JDK parser, emit container facts + every-2nd-frame exact
    // luma sums. Like mm4, the oracle predicts every feature independently
    // from the text, so a header-layout or demux bug cannot cancel out.
    // One-pass facts+frames (mm9's shape): a facts⋈frames join would
    // Y4M-encode every video twice and shuffle to rejoin ----
    "mm6_video_frames" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
        .withColumn("content", substring(col("text"), 1, 384).cast("binary"))
      val vids = Multimodal.resizeContent(docs, "content",
        graft.multimodal.Y4m.Y4mEncoder(width = 8, height = 8))
      graft.multimodal.Y4m
        .extractVideoFrameFeatures(vids, "doc_id", "content", everyN = 2)
        .select(col("doc_id"), col("width"), col("height"), col("fps_num"),
          col("fps_den"), col("n_frames"), col("frame_idx"), col("luma_sum"))
        .orderBy("doc_id", "frame_idx")
    },
    // ---- multimodal COMPRESSED video: REAL MJPEG-in-AVI round-trip —
    // byte k of the payload becomes frame k (8×8 constant-luma raster,
    // JPEG-encoded at quality 1.0 where the JDK quant tables are all ones,
    // so constant blocks decode bit-exactly), wrapped in a RIFF AVI
    // container. Demux walks the real chunk tree; sampled frames decode
    // through the real javax.imageio JPEG decoder. The oracle predicts
    // container facts and per-frame decoded luma sums straight from the
    // text, so a header-layout, demux, or decode slip cannot cancel out --
    "mm9_video_mjpeg" -> { (s, dir) =>
      // codec work is heavy IN the scan stage and the corpus fits one
      // split locally — Spread unlocks the cores; no-op at production
      // split counts (per-row features, partitioning-independent)
      val docs = graft.util.Spread(Tables.t(s, dir, "documents"))
        .withColumn("content", substring(col("text"), 1, 16).cast("binary"))
      val vids = Multimodal.resizeContent(docs, "content",
        graft.multimodal.Avi.MjpegAviEncoder(width = 8, height = 8, fps = 25))
      // one-pass facts+frames: the facts⋈frames shape would run the MJPEG
      // encode lineage twice (once per scan) and shuffle to rejoin
      graft.multimodal.Avi
        .extractVideoFrameFeatures(vids, "doc_id", "content", everyN = 2)
        .select(col("doc_id"), col("width"), col("height"),
          col("us_per_frame"), col("n_frames"), col("frame_idx"),
          col("luma_sum"))
        .orderBy("doc_id", "frame_idx")
    },
    // ---- video: animated GIF round-trip — the second REAL entropy-coded
    // format (LZW). Frame k carries payload bytes [64k, 64k+64) verbatim
    // (LZW is lossless, so no constant-block restriction like mm9); the
    // container carries per-frame delays the demuxer must surface. The
    // oracle predicts n_frames, delays AND whole decoded luma sums straight
    // from the text — a slip in the mux, the sub-block framing, the LCT
    // splice, or the palette-resolved decode breaks the hash ----
    "mm10_video_gif" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
        .withColumn("content", substring(col("text"), 1, 256).cast("binary"))
      val vids = Multimodal.resizeContent(docs, "content",
        graft.multimodal.Gif.GifEncoder(width = 8, height = 8))
      graft.multimodal.Gif
        .extractVideoFrameFeatures(vids, "doc_id", "content", everyN = 2)
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
          col("frame_idx"), col("delay_cs"), col("luma_sum"))
        .orderBy("doc_id", "frame_idx")
    },
    // ---- video: APNG — the INTER-FRAME entropy-coded format (zlib frame
    // data through the real Inflater; fcTL dispose/blend composition means
    // frame k's visible canvas depends on frames 0..k-1). Frame 0 is the
    // full 8×8 canvas (64 bytes); extra frame k a 8×2 patch (16 bytes) at
    // a cycling row offset, dispose k%3 (NONE/BACKGROUND/PREVIOUS), blend
    // k%2 (SOURCE/OVER; OVER pixels whose byte is a space are transparent
    // and leave the canvas showing). The oracle replays the whole
    // composition recurrence in SQL (recursive CTE carrying the 64-pixel
    // canvas as a list) and predicts every composed luma sum from text —
    // a slip in the chunk walk, CRC, zlib splice, dispose regions, or
    // blend arithmetic breaks the hash ----
    "mm15_video_apng" -> { (s, dir) =>
      // NOT spread: measured 16s/410 task-s under 32-way concurrency vs
      // 1.7s single-task — the APNG encode/compose path serializes on
      // JDK-internal state even with per-thread ImageIO writers/readers
      val docs = Tables.t(s, dir, "documents")
        .withColumn("content", substring(col("text"), 1, 192).cast("binary"))
      val vids = Multimodal.resizeContent(docs, "content",
        graft.multimodal.Apng.ApngEncoder())
      graft.multimodal.Apng.extractFrameFeatures(vids, "doc_id", "content")
        .select(col("doc_id"), col("canvas_w"), col("canvas_h"),
          col("n_frames"), col("frame_idx"), col("y_off"), col("delay_cs"),
          col("dispose_op"), col("blend_op"), col("composed_luma"))
        .orderBy("doc_id", "frame_idx")
    },
    // ---- video temporal features: frame-to-frame luma delta through the
    // same Y4M round-trip — the scene-change/motion signal; one narrow
    // pass holding only the previous plane per record ----
    "mm7_video_motion" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
        .withColumn("content", substring(col("text"), 1, 384).cast("binary"))
      val vids = Multimodal.resizeContent(docs, "content",
        graft.multimodal.Y4m.Y4mEncoder(width = 8, height = 8))
      graft.multimodal.Y4m.extractTemporalFeatures(vids, "doc_id", "content")
        .orderBy("doc_id", "frame_idx")
    },
    // ---- mm20: scene-cut detection — the video-curation step on top of
    // mm7's exact temporal deltas: frame k is a cut when its |Y_k−Y_{k−1}|
    // sum exceeds 2× the video's mean delta, decided by integer
    // cross-multiplication (delta·n > total·2 — no float mean), then one
    // per-video agg (cut count + first cut index). Videos under 2 frames
    // have no deltas and drop out on both engines ------------------------
    "mm20_scene_cuts" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
        .withColumn("content", substring(col("text"), 1, 384).cast("binary"))
      val vids = Multimodal.resizeContent(docs, "content",
        graft.multimodal.Y4m.Y4mEncoder(width = 8, height = 8))
      val deltas = graft.multimodal.Y4m
        .extractTemporalFeatures(vids, "doc_id", "content")
      // per-video totals via a window over the SAME scan — a groupBy+join
      // would put the decode in two plan branches and demux every video
      // twice
      val perVid = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      deltas
        .withColumn("td", sum(col("delta_sum")).over(perVid))
        .withColumn("nf", count(lit(1)).over(perVid))
        .withColumn("is_cut",
          (col("delta_sum") * col("nf") > col("td") * 2).cast("long"))
        .groupBy("doc_id")
        .agg(max(col("nf")).as("n_deltas"),
          sum(col("is_cut")).as("n_cuts"),
          min(when(col("is_cut") === 1, col("frame_idx"))).as("first_cut"))
        .orderBy("doc_id")
    },
    // ---- ST1: passthrough stream (availableNow over events parquet) -----
    "st1_passthrough" -> { (s, dir) =>
      val batchDf = Tables.t(s, dir, "events")
      val stream = Streams.parquetStream(s, s"$dir/events.parquet",
        s.read.parquet(s"$dir/events.parquet").schema)
      val out = Streams.runToParquet(stream)
      out.select(batchDf.columns.map(col): _*).drop("ts")
        .orderBy("event_id")
    },
    // ---- ST2/ST4: enrichment stage chain under foreachBatch -------------
    "st2_stream_enrich" -> { (s, dir) =>
      val stream = Streams.parquetStream(s, s"$dir/events.parquet",
        s.read.parquet(s"$dir/events.parquet").schema)
      val stage = PipelineStage(new ClickFilterStage, StageConfig("clicks"))
      Streams.runEnrichmentStream(stream, Seq(stage))
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    },
    // ---- stateful: per-user sessionization (flatMapGroupsWithState) -----
    // emits CLOSED sessions only: all but each user's last, plus last
    // sessions the final watermark (max ts - gap) times out
    "st4_sessionize" -> { (s, dir) =>
      val raw = Streams.parquetStream(s, s"$dir/events.parquet",
        s.read.parquet(s"$dir/events.parquet").schema)
      val stream = Tables.normalizeTs(raw)
      Streams.runToParquet(Streams.sessionize(stream, gapMinutes = 30),
          statePartitions = Some(8))
        .orderBy("user_id", "session_start")
    },
    // ---- declarative sessionization: the built-in session_window
    // aggregation (append mode) — same semantics family as st4's
    // imperative flatMapGroupsWithState, but sessions emit when the
    // watermark passes their END (last event + gap), so the trailing
    // horizon differs; the oracle reproduces that cutoff against the
    // ms-floored watermark ------------------------------------------------
    "st13_session_window" -> { (s, dir) =>
      val raw = Streams.parquetStream(s, s"$dir/events.parquet",
        s.read.parquet(s"$dir/events.parquet").schema)
      val withTs = Tables.normalizeTs(raw)
      val out = Streams.runToParquet(withTs, st =>
          st.withWatermark("ts", "30 minutes")
            .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
            .agg(count(lit(1)).as("n_events")),
          statePartitions = Some(8))
      out.select(col("user_id"),
          unix_micros(col("session_window.start")).as("w_start"),
          unix_micros(col("session_window.end")).as("w_end"),
          col("n_events"))
        .orderBy("user_id", "w_start")
    },
    // ---- stateful stream dedup: source re-delivers every event twice; the
    // watermarked dropDuplicates state must collapse them across batches
    "st5_stream_dedup" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
      val tmp = graft.util.Scratch.dir("graft_dupsrc")
      ev.write.mode("append").parquet(tmp)
      ev.write.mode("append").parquet(tmp)
      val stream = Streams.parquetStream(s, tmp, s.read.parquet(tmp).schema)
      Streams.runToParquet(stream,
          st => Streams.dedupStream(st, Seq("event_id"), eventTimeCol = Some("ts")),
          statePartitions = Some(8))
        .select("event_id", "user_id", "event_type", "value", "props")
        .orderBy("event_id")
    },
    // ---- streaming volume-anomaly gate: the stream half aggregates daily
    // counts per type (watermark-bounded state, update-mode changelog);
    // the SAME RollingAnomaly module as batch ts3 then scores the
    // materialized aggregate — the lambda shape with one shared scoring
    // module, so ts3's oracle applies verbatim (ST4 module reuse) --------
    "st14_stream_anomaly" -> { (s, dir) =>
      val raw = Streams.parquetStream(s, s"$dir/events.parquet",
        s.read.parquet(s"$dir/events.parquet").schema)
      val withTs = Tables.normalizeTs(raw)
      val daily = Streams.runWindowedAgg(withTs, df =>
          df.withWatermark("ts", "1 day")
            .groupBy(window(col("ts"), "1 day"), col("event_type"))
            .agg(count(lit(1)).as("n")),
          statePartitions = Some(8))
      graft.ops.RollingAnomaly.zScores(
          daily.select(col("event_type"),
            unix_micros(col("window.start")).as("day_us"), col("n")))
        .orderBy("event_type", "day_us")
    },
    // ---- ST4 module reuse, trend edition: the SAME Ewma module as batch
    // ts6 applied to a watermarked streaming daily aggregate (st14's shape
    // with RollingAnomaly swapped for Ewma) — batch/stream parity for the
    // smoothing baseline, state watermark-bounded, partitions pinned ------
    "st16_stream_ewma" -> { (s, dir) =>
      val raw = Streams.parquetStream(s, s"$dir/events.parquet",
        s.read.parquet(s"$dir/events.parquet").schema)
      val withTs = Tables.normalizeTs(raw)
      val daily = Streams.runWindowedAgg(withTs, df =>
          df.withWatermark("ts", "1 day")
            .groupBy(window(col("ts"), "1 day"), col("event_type"))
            .agg(count(lit(1)).as("n")),
          statePartitions = Some(8))
      graft.ops.Ewma.smooth(
          daily.select(col("event_type"),
            unix_micros(col("window.start")).as("day_us"), col("n")),
          window = graft.ops.Ewma.DefaultWindow)
        .orderBy("event_type", "day_us")
    },
    // ---- st17: checkpoint RESUME exactly-once — run the stream to
    // completion on half the source files, grow the source, run AGAIN
    // with the SAME checkpoint: the file-source log must process only the
    // unseen files. A resume bug in either direction is an oracle
    // failure: reprocessing duplicates ids, a lost log drops them — the
    // oracle is simply the full table --------------------------------
    "st17_stream_resume" -> { (s, dir) =>
      val events = s.read.parquet(s"$dir/events.parquet")
      val src = graft.util.Scratch.dir("graft_resume_src")
      val out = graft.util.Scratch.dir("graft_resume_out")
      val ckpt = graft.util.Scratch.dir("graft_resume_ckpt")
      events.filter(col("event_id") % 2 === 0)
        .write.mode("append").parquet(src)
      def runOnce(): Unit = Streams.runToParquetAt(
        Streams.parquetStream(s, src, events.schema), out, ckpt)
      runOnce() // even ids land; checkpoint remembers the files
      events.filter(col("event_id") % 2 =!= 0)
        .write.mode("append").parquet(src)
      runOnce() // ONLY the new files may be processed
      s.read.parquet(out)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("props"))
        .orderBy("event_id")
    },
    // ---- stream-stream interval join: click → purchase conversions within
    // an hour, watermark-bounded join state on both sides
    "st7_stream_join" -> { (s, dir) =>
      val (clicks, purchases) = clickPurchaseStreams(s, dir)
      Streams.runToParquet(
          Streams.intervalJoin(clicks, purchases, "cu", "pu",
            "click_ts", "p_ts", windowSeconds = 3600),
          statePartitions = Some(8))
        .select(col("click_id"), col("p_id"), col("cu").as("user_id"))
        .orderBy("click_id", "p_id")
    },
    // ---- stream-stream LEFT OUTER interval join: clicks with no purchase
    // within the hour emit null-padded — but ONLY once the global watermark
    // (min of both sides' max-event-time minus the 1h delay) passes their
    // join window; trailing clicks still inside that horizon never emit.
    // The oracle reproduces exactly that cutoff ---------------------------
    "st10_stream_outer_join" -> { (s, dir) =>
      val (clicks, purchases) = clickPurchaseStreams(s, dir)
      Streams.runToParquet(
          Streams.intervalJoin(clicks, purchases, "cu", "pu",
            "click_ts", "p_ts", windowSeconds = 3600,
            joinType = "left_outer"),
          statePartitions = Some(8))
        .select(col("click_id"), col("p_id"), col("cu").as("user_id"))
        .orderBy(col("click_id"), col("p_id"))
    },
    // ---- stream-stream FULL OUTER interval join: the two unmatched sides
    // evict on DIFFERENT watermark boundaries — a click awaits purchases
    // until the watermark passes click_ts + 1h (its whole join window),
    // but a purchase only matches PAST clicks, so it null-pads as soon as
    // the watermark passes p_ts itself. The oracle reproduces both
    // cutoffs against the ms-floored min-of-both-sides watermark ---------
    "st11_stream_full_join" -> { (s, dir) =>
      val (clicks, purchases) = clickPurchaseStreams(s, dir)
      Streams.runToParquet(
          Streams.intervalJoin(clicks, purchases, "cu", "pu",
            "click_ts", "p_ts", windowSeconds = 3600,
            joinType = "full_outer"),
          statePartitions = Some(8))
        .select(col("click_id"), col("p_id"),
          coalesce(col("cu"), col("pu")).as("user_id"))
        .orderBy(col("click_id"), col("p_id"))
    },
    // ---- st19: streaming MAINTAINED ROLLUP — cdc4's IncrementalAgg under
    // foreachBatch (the ST4 batch-module-reuse contract for materialized
    // views): the source is split into 4 real micro-batches
    // (maxFilesPerTrigger=1 over 4 files), each batch becomes a signed
    // insert changeset folded into a persistent (n, total) aggregate
    // through the store's reader-atomic rewrite — refresh cost per batch
    // is O(|batch| + |agg keys|), never O(history). Exactly-once effects
    // over at-least-once foreachBatch: the applied batch id commits as a
    // sentinel row INSIDE the same rewrite commit as the rollup (one
    // atomic visibility switch covers both), and replayed ids skip. The
    // oracle recomputes the rollup from all events at once — maintained
    // == recomputed across an arbitrary batch history. COMPUTE is
    // O(|batch| + |agg keys|) but the copy-on-write refresh WRITES the
    // whole aggregate per batch — right for rollup-sized tables, wrong
    // for 10^9 keys on 1-min triggers; the partitioned-rewrite upgrade
    // path is documented in SCALE.md §5 ("Maintained-rollup refresh") ----
    "st19_stream_rollup" -> { (s, dir) =>
      import org.apache.spark.sql.types._
      val store = new graft.store.BucketStore(s,
        graft.util.Scratch.dir("graft_st19"))
      val b = graft.model.Bucket("/stream/rollup", graft.model.DataSchema())
      val aggSchema = StructType(Seq(
        StructField("user_id", LongType), StructField("n", LongType),
        StructField("total", DecimalType(18, 2))))
      store.write(b, s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), aggSchema))
      // 4-file staging of the source → 4 genuine micro-batches
      val raw = Streams.stagedFileStream(
        s.read.parquet(s"$dir/events.parquet"), nFiles = 4)
      Streams.runForeachBatchIds(raw) { (batch, id) =>
        val applied = store.read(b).filter(col("user_id") === -1L)
          .agg(max(col("total"))).head().getDecimal(0)
        val lastId = if (applied == null) -1L else applied.longValueExact()
        if (id > lastId) {
          val delta = batch.filter(col("event_type") === "purchase")
            .select(lit("i").as("op"), col("user_id"),
              lit(null).cast("double").as("old_v"), col("value").as("new_v"))
          store.rewrite(b, "processed") { cur =>
            graft.ops.IncrementalAgg
              .applyDelta(cur.filter(col("user_id") =!= -1L), delta,
                Seq("user_id"))
              .unionByName(s.range(1).select(lit(-1L).as("user_id"),
                lit(0L).as("n"), lit(id).cast("decimal(18,2)").as("total")))
          }
        }
      }
      store.read(b).filter(col("user_id") =!= -1L)
        // maintained state stays DECIMAL(18,2); emit DOUBLE (Verify lints
        // DecimalType out of final schemas — driver hashing contract)
        .select(col("user_id"), col("n"), col("total").cast("double").as("total"))
        .orderBy("user_id")
    },
    // ---- streaming upsert sink: per micro-batch, reduce to the latest
    // event per user and MERGE it into the bucket store (rewrite commit →
    // each batch lands atomically). The merge's order guard — update only
    // if (ts, event_id) is newer — makes the final state independent of
    // how the source was split into batches AND idempotent under replay:
    // exactly-once EFFECTS over at-least-once foreachBatch ----------------
    "st12_stream_merge" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types._
      val store = new graft.store.BucketStore(s,
        graft.util.Scratch.dir("graft_st12"))
      val b = graft.model.Bucket("/stream/user_state", graft.model.DataSchema())
      val schema = StructType(Seq(
        StructField("user_id", LongType), StructField("last_ts", LongType),
        StructField("last_event", LongType), StructField("last_type", StringType)))
      store.write(b, s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema))
      val crud = new graft.crud.CrudService(store, b)

      val raw = Streams.parquetStream(s, s"$dir/events.parquet",
        s.read.parquet(s"$dir/events.parquet").schema)
      Streams.runForeachBatch(raw) { batch =>
        // normalize to micros BEFORE ranking, so the (ts, event_id) order
        // the guard uses is exactly the oracle's epoch_us order (sub-ties
        // resolve through the event_id tiebreak on both sides)
        val w = Window.partitionBy("user_id")
          .orderBy(col("tus").desc, col("event_id").desc)
        val latest = Tables.normalizeTs(batch)
          .withColumn("tus", unix_micros(col("ts")))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("user_id"), col("tus").as("src_ts"),
            col("event_id").as("src_event"), col("event_type").as("src_type"))
        val newer = col("src_ts") > col("last_ts") ||
          (col("src_ts") === col("last_ts") && col("src_event") > col("last_event"))
        crud.mergeInto(latest, Seq("user_id"),
          matchedUpdate = Map(
            "last_ts" -> when(newer, col("src_ts")).otherwise(col("last_ts")),
            "last_event" -> when(newer, col("src_event")).otherwise(col("last_event")),
            "last_type" -> when(newer, col("src_type")).otherwise(col("last_type"))),
          notMatchedInsert = Some(Map(
            "last_ts" -> col("src_ts"), "last_event" -> col("src_event"),
            "last_type" -> col("src_type"))))
      }
      store.read(b).select("user_id", "last_ts", "last_event", "last_type")
        .orderBy("user_id")
    },
    // ---- st30: st12's streaming upsert sink re-homed onto the
    // PARTITIONED store — the scale shape: each micro-batch reduces to its
    // latest row per user, derives its touched partitions from the batch
    // alone, and merges ONLY those partitions through one version-CAS-
    // guarded refresh commit (O(touched) per batch, vs st12's whole-store
    // rewrite per batch). The same (ts, event_id) order guard keeps the
    // final state invariant to how the source was batched AND idempotent
    // under foreachBatch replay — exactly-once effects, now at O(delta)
    // write cost. Same oracle as st12: the commit path must be
    // semantically invisible. ---------------------------------------------
    "st30_stream_merge_partitioned" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types._
      val store = new graft.store.PartitionedStore(s,
        graft.util.Scratch.dir("graft_st30"), Seq("user_id"), nPartitions = 16)
      val schema = StructType(Seq(
        StructField("user_id", LongType), StructField("last_ts", LongType),
        StructField("last_event", LongType), StructField("last_type", StringType)))
      store.init(s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema))
      val raw = Streams.parquetStream(s, s"$dir/events.parquet",
        s.read.parquet(s"$dir/events.parquet").schema)
      Streams.runForeachBatch(raw) { batch =>
        val w = Window.partitionBy("user_id")
          .orderBy(col("tus").desc, col("event_id").desc)
        val latest = Tables.normalizeTs(batch)
          .withColumn("tus", unix_micros(col("ts")))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("user_id"), col("tus").as("src_ts"),
            col("event_id").as("src_event"), col("event_type").as("src_type"))
        val newer = col("src_ts") > col("last_ts") ||
          (col("src_ts") === col("last_ts") && col("src_event") > col("last_event"))
        graft.ops.MergeInto.mergePartitioned(store, latest,
          matchedUpdate = Map(
            "last_ts" -> when(newer, col("src_ts")).otherwise(col("last_ts")),
            "last_event" -> when(newer, col("src_event")).otherwise(col("last_event")),
            "last_type" -> when(newer, col("src_type")).otherwise(col("last_type"))),
          notMatchedInsert = Some(Map(
            "last_ts" -> col("src_ts"), "last_event" -> col("src_event"),
            "last_type" -> col("src_type"))))
        ()
      }
      store.read().select("user_id", "last_ts", "last_event", "last_type")
        .orderBy("user_id")
    },
    // ---- stream-static join: enrich a purchase stream with the customer
    // dim (broadcast — the dim is re-read per micro-batch, so a broadcast
    // hash join keeps per-batch cost flat; stream side never shuffles) ----
    "st9_stream_static_join" -> { (s, dir) =>
      val stream = Streams.parquetStream(s, s"$dir/events.parquet",
        s.read.parquet(s"$dir/events.parquet").schema)
      val cust = Tables.t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val out = Streams.runToParquet(stream.filter(col("event_type") === "purchase"),
        st => st.join(broadcast(cust), col("user_id") === col("c_custkey")))
      out.select("event_id", "user_id", "c_name", "c_nationkey")
        .orderBy("event_id")
    },
    // ---- ST3/windowed: event-time tumbling day windows ------------------
    // ---- st15: streaming trending top-k — the drift/trending monitor over
    // the same hourly stateful count the windowed-agg family maintains
    // (watermark-evicted state), with the top-3-per-window rank applied to
    // the FINAL streamed counts (a window over the aggregated frame, each
    // partition ≤ |event_type| rows — never the raw stream). Deterministic
    // tiebreak: count desc, then event_type. -----------------------------
    "st15_stream_trending" -> { (s, dir) =>
      val raw = Streams.parquetStream(s, s"$dir/events.parquet",
        s.read.parquet(s"$dir/events.parquet").schema)
      val withTs = Tables.normalizeTs(raw)
      val counts = Streams.runWindowedAgg(withTs, df =>
          df.withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n")),
          statePartitions = Some(8))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("wstart")).orderBy(desc("n"), asc("event_type"))
      counts.select(col("window.start").as("wstart"), col("event_type"), col("n"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .orderBy("wstart", "rank")
    },
    "st3_window_agg" -> { (s, dir) =>
      val raw = Streams.parquetStream(s, s"$dir/events.parquet",
        s.read.parquet(s"$dir/events.parquet").schema)
      val withTs = Tables.normalizeTs(raw)
      val out = Streams.runWindowedAgg(withTs, df =>
        // watermark = the state-eviction bound: windows a full day behind
        // the max observed event time finalize and leave the state store
        df.withWatermark("ts", "1 day")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 6)))
              .cast("double").as("total_value")),
        statePartitions = Some(8))
      out.select(col("window.start").as("wstart"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("wstart", "event_type")
    }
  )

  /** ST2 stage: filter clicks (same module contract as batch pipeline). */
  class ClickFilterStage extends graft.pipeline.EnrichStage {
    def onObjectBatch(batch: Seq[org.apache.spark.sql.Row],
        groupKey: Option[org.apache.spark.sql.Row]): Iterator[org.apache.spark.sql.Row] =
      batch.iterator.filter(_.getAs[String]("event_type") == "click")
  }

  val oracle: Map[String, String] = Map(
    // final state after all streaming merges = latest event per user under
    // the (ts, event_id) total order, however the stream was batched
    "st12_stream_merge" ->
      ("SELECT user_id, tus AS last_ts, event_id AS last_event, event_type AS last_type " +
        "FROM (SELECT user_id, epoch_us(ts) AS tus, event_id, event_type, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn " +
        "FROM events) WHERE rn = 1 ORDER BY user_id"),
    // st12's oracle verbatim — the partitioned per-batch commit path must
    // reach the same final state however the stream was batched
    "st30_stream_merge_partitioned" ->
      ("SELECT user_id, tus AS last_ts, event_id AS last_event, event_type AS last_type " +
        "FROM (SELECT user_id, epoch_us(ts) AS tus, event_id, event_type, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn " +
        "FROM events) WHERE rn = 1 ORDER BY user_id"),
    "q10_correlated" ->
      ("SELECT c_custkey, c_name FROM customer c " +
        "WHERE (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_orderpriority = '1-URGENT') * 5 " +
        "> (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) " +
        "ORDER BY c_custkey"),
    "sql1_arbitrary" ->
      ("SELECT n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS spend, " +
        "count(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' AND o_orderstatus = 'O' GROUP BY n_name ORDER BY n_name"),
    "sql2_row_emit" ->
      ("SELECT format('{{\"n_nationkey\":{},\"n_name\":\"{}\"}}', n_nationkey, n_name) AS record " +
        "FROM nation ORDER BY record"),
    "sql3_subsample_cap" ->
      ("SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 = 0 " +
        "ORDER BY o_orderkey LIMIT 500"),
    "s2_json_parse" ->
      "SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events ORDER BY event_id",
    "s3_xml_parse" ->
      ("SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, " +
        "CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation ORDER BY n_nationkey"),
    "mm1_media_features" ->
      ("SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, " +
        "ascii(substr(text, 1, 1)) AS head_byte, " +
        "list_reduce([CAST(ascii(c) AS BIGINT) FOR c IN regexp_extract_all(text, '.')], " +
        "(a, b) -> (a + b) % 1000000007) % 1000000007 AS byte_sum_mod " +
        "FROM documents ORDER BY doc_id"),
    "mm2_frame_sample" ->
      ("SELECT doc_id, CAST(i AS INTEGER) AS frame_idx, " +
        "substr(text, CAST(i * 32 + 1 AS BIGINT), 32) AS frame FROM (" +
        "SELECT doc_id, text, unnest([x FOR x IN " +
        "generate_series(0, CAST(ceil(strlen(text) / 32.0) AS BIGINT) - 1) " +
        "IF x % 2 = 0]) AS i FROM documents) ORDER BY doc_id, frame_idx"),
    "mm3_resize" ->
      ("SELECT doc_id, substr(text, 1, 40) AS content, 40 AS n " +
        "FROM documents ORDER BY doc_id"),
    // mm11: per-frame energy/zero-crossings predicted from the text bytes
    // through the SAME char-class modulation (letters < zero point < rest);
    // crossings counted within frames only, both engines
    "mm11_audio_frames" ->
      ("WITH t AS (SELECT doc_id, substr(text, 1, 400) AS s FROM documents), " +
        "fr AS (SELECT doc_id, g.i AS fi, substr(s, CAST(100*g.i + 1 AS BIGINT), 100) AS fs " +
        "FROM t, unnest(generate_series(0, (strlen(s)-1)//100)) AS g(i)), " +
        "samp AS (SELECT doc_id, fi, g.j AS j, strlen(fs) AS n, " +
        "CASE WHEN ascii(substr(fs, CAST(g.j AS BIGINT), 1)) >= 97 " +
        "THEN ascii(substr(fs, CAST(g.j AS BIGINT), 1)) - 128 " +
        "ELSE 128 - ascii(substr(fs, CAST(g.j AS BIGINT), 1)) END AS v " +
        "FROM fr, unnest(generate_series(1, strlen(fs))) AS g(j)), " +
        "sv AS (SELECT doc_id, fi, n, v, lag(v) OVER (PARTITION BY doc_id, fi ORDER BY j) AS pv FROM samp) " +
        "SELECT doc_id, CAST(fi AS INT) AS frame_idx, CAST(max(n) AS INT) AS n_samples, " +
        "CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS energy, " +
        "CAST(sum(CASE WHEN pv IS NOT NULL AND pv * v < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings " +
        "FROM sv GROUP BY doc_id, fi ORDER BY doc_id, frame_idx"),
    // NOTE like the mm1/mm2 oracles, this assumes the documents corpus is
    // ASCII without newlines/empty text (true of the generated testdata):
    // regexp '.' skips newlines and strlen counts bytes, so a non-ASCII or
    // newline-bearing corpus would diverge from the byte-exact Spark side
    // decimated container facts predicted from the text: ceil(n/4) frames
    // at 2000 Hz; amplitude sum over characters at positions 1, 5, 9, …
    "mm8_audio_resample" ->
      ("SELECT doc_id, 2000 AS sample_rate, 1 AS channels, " +
        "CAST((least(strlen(text), 400) + 3) // 4 AS BIGINT) AS n_frames, " +
        "CAST(((least(strlen(text), 400) + 3) // 4) * 1000 // 2000 AS BIGINT) AS duration_ms, " +
        "list_reduce([CAST(abs(ascii(c) - 128) AS BIGINT) " +
        "FOR c IN list_filter(regexp_extract_all(substr(text, 1, 400), '.'), " +
        "(c, i) -> (i - 1) % 4 = 0)], (a, b) -> a + b) AS amp_abs_sum " +
        "FROM documents ORDER BY doc_id"),
    "mm4_audio_features" ->
      ("SELECT doc_id, 8000 AS sample_rate, 1 AS channels, " +
        "CAST(least(strlen(text), 400) AS BIGINT) AS n_frames, " +
        "CAST(least(strlen(text), 400) * 1000 // 8000 AS BIGINT) AS duration_ms, " +
        "list_reduce([CAST(abs(ascii(c) - 128) AS BIGINT) " +
        "FOR c IN regexp_extract_all(substr(text, 1, 400), '.')], " +
        "(a, b) -> a + b) AS amp_abs_sum " +
        "FROM documents ORDER BY doc_id"),
    // a doc's video has strlen//64 frames (8×8 Y planes = consecutive
    // 64-char chunks of the first 384 chars; trailing partial dropped);
    // sampled frames are the even indices; luma_sum = exact byte sum of
    // the chunk. Docs shorter than one frame contribute no rows on either
    // side (inner join vs empty generate_series)
    "mm6_video_frames" ->
      ("WITH v AS (SELECT doc_id, substr(text, 1, 384) AS c FROM documents), " +
        "f AS (SELECT doc_id, c, strlen(c) // 64 AS n_frames FROM v), " +
        "k AS (SELECT doc_id, c, n_frames, " +
        "unnest([x FOR x IN generate_series(0, n_frames - 1) IF x % 2 = 0]) AS k FROM f) " +
        "SELECT doc_id, 8 AS width, 8 AS height, 25 AS fps_num, 1 AS fps_den, " +
        "CAST(n_frames AS BIGINT) AS n_frames, CAST(k AS INTEGER) AS frame_idx, " +
        "list_reduce([CAST(ascii(ch) AS BIGINT) FOR ch IN " +
        "regexp_extract_all(substr(c, CAST(k * 64 + 1 AS BIGINT), 64), '.')], " +
        "(a, b) -> a + b) AS luma_sum " +
        "FROM k ORDER BY doc_id, frame_idx"),
    // MJPEG path: frame k is a CONSTANT 8×8 raster of payload byte k, and
    // quality-1.0 JPEG round-trips constant blocks exactly, so decoded
    // luma_sum = 64 × ascii(char k). Container facts are the encoder
    // constants; sampled frames are the even indices of the 16-byte payload
    "mm9_video_mjpeg" ->
      ("WITH f AS (SELECT doc_id, substr(text, 1, 16) AS c, " +
        "unnest([x FOR x IN generate_series(0, 15) IF x % 2 = 0]) AS k FROM documents) " +
        "SELECT doc_id, 8 AS width, 8 AS height, 40000 AS us_per_frame, " +
        "CAST(16 AS BIGINT) AS n_frames, CAST(k AS INTEGER) AS frame_idx, " +
        "CAST(64 * ascii(substr(c, CAST(k + 1 AS BIGINT), 1)) AS BIGINT) AS luma_sum " +
        "FROM f ORDER BY doc_id, frame_idx"),
    // twin-set containment audit: the oracle enumerates pairs with
    // IDENTICAL distinct-token sets (list equality on the sorted set —
    // these render byte-identical PNGs engine-side) and pins captured=1;
    // a determinism or banding slip anywhere in the raster→PNG→decode→
    // aHash→band path makes the engine emit 0 → hash mismatch
    "mm5_image_neardup" ->
      ("WITH t AS (SELECT doc_id, " +
        "list_sort(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS s FROM documents) " +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 1 AS captured " +
        "FROM t a JOIN t b ON a.s = b.s AND a.doc_id < b.doc_id " +
        "ORDER BY doc_a, doc_b"),
    // GIF path: LZW is lossless, so frame k's decoded luma sum is exactly
    // the byte sum of the payload's k-th 64-char chunk (mm6's expression);
    // the per-frame delay is the encoder's deterministic 4 + (k % 5).
    // Docs shorter than one frame contribute no rows on either side
    "mm10_video_gif" ->
      ("WITH v AS (SELECT doc_id, substr(text, 1, 256) AS c FROM documents), " +
        "f AS (SELECT doc_id, c, strlen(c) // 64 AS n_frames FROM v), " +
        "k AS (SELECT doc_id, c, n_frames, " +
        "unnest([x FOR x IN generate_series(0, n_frames - 1) IF x % 2 = 0]) AS k FROM f) " +
        "SELECT doc_id, 8 AS width, 8 AS height, " +
        "CAST(n_frames AS BIGINT) AS n_frames, CAST(k AS INTEGER) AS frame_idx, " +
        "CAST(4 + (k % 5) AS INTEGER) AS delay_cs, " +
        "list_reduce([CAST(ascii(ch) AS BIGINT) FOR ch IN " +
        "regexp_extract_all(substr(c, CAST(k * 64 + 1 AS BIGINT), 64), '.')], " +
        "(a, b) -> a + b) AS luma_sum " +
        "FROM k ORDER BY doc_id, frame_idx"),
    // APNG path: the oracle REPLAYS the inter-frame composition — a
    // recursive CTE carries the 64-pixel canvas as a BIGINT list (0 =
    // transparent black), applying per frame the blend (OVER keeps the
    // canvas pixel where the payload byte is a space) and then the dispose
    // (BACKGROUND zeroes the patch rows; PREVIOUS reverts to the pre-frame
    // canvas — the frame only touched its own region, so whole-state
    // revert is identical). rendered = the canvas as displayed, what the
    // engine sums; state = what the next frame composites onto
    "mm15_video_apng" ->
      ("WITH RECURSIVE v AS (SELECT doc_id, substr(text, 1, 192) AS c FROM documents " +
        "WHERE strlen(substr(text, 1, 192)) >= 64), " +
        "f AS (SELECT doc_id, c, LEAST((strlen(c) - 64) // 16, 8) AS n_extras FROM v), " +
        "comp(doc_id, k, rendered, state, n_extras, c) AS (" +
        "SELECT doc_id, 0, " +
        "list_transform(generate_series(1, 64), p -> CAST(ascii(substr(c, CAST(p AS BIGINT), 1)) AS BIGINT)), " +
        "list_transform(generate_series(1, 64), p -> CAST(ascii(substr(c, CAST(p AS BIGINT), 1)) AS BIGINT)), " +
        "n_extras, c FROM f " +
        "UNION ALL " +
        "SELECT doc_id, k + 1, rend, " +
        "CASE WHEN (k + 1) % 3 = 1 THEN list_transform(generate_series(1, 64), " +
        "p -> CASE WHEN (p - 1) // 8 >= 2 * (k % 4) AND (p - 1) // 8 < 2 * (k % 4) + 2 " +
        "THEN CAST(0 AS BIGINT) ELSE rend[p] END) " +
        "WHEN (k + 1) % 3 = 2 THEN state ELSE rend END, " +
        "n_extras, c FROM (" +
        "SELECT doc_id, k, state, n_extras, c, " +
        "list_transform(generate_series(1, 64), p -> " +
        "CASE WHEN (p - 1) // 8 >= 2 * (k % 4) AND (p - 1) // 8 < 2 * (k % 4) + 2 THEN " +
        "CASE WHEN k % 2 = 0 AND ascii(substr(c, CAST(64 + k * 16 + (p - 1) - 16 * (k % 4) + 1 AS BIGINT), 1)) = 32 " +
        "THEN state[p] ELSE CAST(ascii(substr(c, CAST(64 + k * 16 + (p - 1) - 16 * (k % 4) + 1 AS BIGINT), 1)) AS BIGINT) END " +
        "ELSE state[p] END) AS rend " +
        "FROM comp WHERE k < n_extras)) " +
        "SELECT doc_id, 8 AS canvas_w, 8 AS canvas_h, " +
        "CAST(n_extras + 1 AS BIGINT) AS n_frames, CAST(k AS INTEGER) AS frame_idx, " +
        "CAST(CASE WHEN k = 0 THEN 0 ELSE 2 * ((k - 1) % 4) END AS INTEGER) AS y_off, " +
        "CAST(2 + (k % 5) AS INTEGER) AS delay_cs, " +
        "CAST(CASE WHEN k = 0 THEN 0 ELSE k % 3 END AS INTEGER) AS dispose_op, " +
        "CAST(CASE WHEN k = 0 THEN 0 ELSE k % 2 END AS INTEGER) AS blend_op, " +
        "list_reduce(rendered, (a, b) -> a + b) AS composed_luma " +
        "FROM comp ORDER BY doc_id, frame_idx"),
    // per doc: frame k (k>=1) vs k-1 are consecutive 64-char chunks;
    // delta_sum = sum of per-position absolute byte differences
    "mm7_video_motion" ->
      ("WITH v AS (SELECT doc_id, substr(text, 1, 384) AS c FROM documents), " +
        "f AS (SELECT doc_id, c, strlen(c) // 64 AS n_frames FROM v), " +
        "k AS (SELECT doc_id, c, unnest(generate_series(1, n_frames - 1)) AS k FROM f) " +
        "SELECT doc_id, CAST(k AS INTEGER) AS frame_idx, " +
        "CAST(list_reduce([abs(ascii(substr(c, CAST(k * 64 + i AS BIGINT), 1)) - " +
        "ascii(substr(c, CAST((k - 1) * 64 + i AS BIGINT), 1))) " +
        "FOR i IN generate_series(1, 64)], (a, b) -> a + b) AS BIGINT) AS delta_sum " +
        "FROM k ORDER BY doc_id, frame_idx"),
    // mm7's exact delta CTE + the same integer cross-multiplied cut rule
    "mm20_scene_cuts" ->
      ("WITH v AS (SELECT doc_id, substr(text, 1, 384) AS c FROM documents), " +
        "f AS (SELECT doc_id, c, strlen(c) // 64 AS n_frames FROM v), " +
        "k AS (SELECT doc_id, c, unnest(generate_series(1, n_frames - 1)) AS k FROM f), " +
        "d AS (SELECT doc_id, CAST(k AS INTEGER) AS frame_idx, " +
        "CAST(list_reduce([abs(ascii(substr(c, CAST(k * 64 + i AS BIGINT), 1)) - " +
        "ascii(substr(c, CAST((k - 1) * 64 + i AS BIGINT), 1))) " +
        "FOR i IN generate_series(1, 64)], (a, b) -> a + b) AS BIGINT) AS delta_sum FROM k), " +
        "t AS (SELECT doc_id, sum(delta_sum) AS td, count(*) AS nf FROM d GROUP BY 1) " +
        "SELECT d.doc_id AS doc_id, CAST(max(nf) AS BIGINT) AS n_deltas, " +
        "CAST(sum(CASE WHEN delta_sum * nf > td * 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts, " +
        "CAST(min(CASE WHEN delta_sum * nf > td * 2 THEN frame_idx END) AS INTEGER) AS first_cut " +
        "FROM d JOIN t ON d.doc_id = t.doc_id GROUP BY 1 ORDER BY doc_id"),
    "st1_passthrough" ->
      "SELECT event_id, user_id, event_type, value, props FROM events ORDER BY event_id",
    "st2_stream_enrich" ->
      ("SELECT event_id, user_id, event_type FROM events WHERE event_type = 'click' " +
        "ORDER BY event_id"),
    "st4_sessionize" ->
      ("WITH ev AS (SELECT user_id, epoch_us(ts) // 1000 AS t FROM events), " +
        "s AS (SELECT user_id, t, lag(t) OVER (PARTITION BY user_id ORDER BY t) AS prev FROM ev), " +
        "b AS (SELECT user_id, t, CASE WHEN prev IS NULL OR t - prev > 1800000 THEN 1 ELSE 0 END AS brk FROM s), " +
        "sids AS (SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM b), " +
        "sess AS (SELECT user_id, sid, min(t) AS session_start, max(t) AS session_end, count(*) AS n_events FROM sids GROUP BY 1, 2), " +
        "wm AS (SELECT max(t) - 1800000 AS w FROM ev), " +
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY session_start DESC) AS pos FROM sess) " +
        "SELECT user_id, session_start, session_end, n_events FROM ranked, wm " +
        "WHERE pos > 1 OR session_end + 1800000 < w " +
        "ORDER BY user_id, session_start"),
    // sessions in MICROS (session_window keeps event-time precision, unlike
    // st4's ms-based sessionize); emitted once the ms-floored watermark
    // passes the window end = last event + gap. Strict `<` matches the
    // state-store eviction predicate; no session on this corpus falls
    // within 2s of the boundary, so the result is inclusive/exclusive
    // invariant here (checked) — revisit if the generator changes
    "st13_session_window" ->
      ("WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events), " +
        "s AS (SELECT user_id, event_id, t, lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev FROM ev), " +
        "b AS (SELECT user_id, event_id, t, CASE WHEN prev IS NULL OR t - prev > 1800000000 THEN 1 ELSE 0 END AS brk FROM s), " +
        "sids AS (SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM b), " +
        "sess AS (SELECT user_id, min(t) AS w_start, max(t) + 1800000000 AS w_end, count(*) AS n_events FROM sids GROUP BY user_id, sid), " +
        "wm AS (SELECT (max(t) // 1000 - 1800000) * 1000 AS w FROM ev) " +
        "SELECT user_id, w_start, w_end, n_events FROM sess, wm " +
        "WHERE w_end < w ORDER BY user_id, w_start"),
    // the round-trip oracles aggregate the ORIGINAL tables: format
    // landing must be lossless for the comparison to hold
    "s8_orc_roundtrip" ->
      ("SELECT o_orderstatus, count(*) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "s9_csv_roundtrip" ->
      ("SELECT event_type, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS uid_sum " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "s10_warc_roundtrip" ->
      ("SELECT 'http://' || source || '.example.com/doc/' || doc_id AS url, " +
        "CAST(200 + (doc_id % 2) * 104 AS INT) AS status, text AS body " +
        "FROM documents ORDER BY url"),
    // every pixel predicted from text: Java's hashCode low byte is a
    // 31-polynomial mod 256 over UTF-16 units (= codepoints for this BMP
    // corpus), seeded by the first char exactly like list_reduce. '(?s).'
    // keeps newline chars hashCode counts (RE2 '.' would drop them); the
    // CASE catches ''/NULL tokens whose hashCode is 0 (list_reduce on an
    // empty list errors rather than folding to 0)
    "mm13_image_histogram" ->
      ("WITH t AS (SELECT doc_id, list_sort(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS s FROM documents), " +
        "tk AS (SELECT doc_id, s[CAST((j * len(s)) // 64 AS BIGINT) + 1] AS tok " +
        "FROM t, unnest(generate_series(0, 63)) AS g(j)), " +
        "px AS (SELECT doc_id, " +
        "CASE WHEN tok IS NULL OR tok = '' THEN 0 ELSE " +
        "list_reduce([unicode(c) FOR c IN regexp_extract_all(tok, '(?s).')], " +
        "(a, c) -> (a * 31 + c) % 256) END // 64 AS bin " +
        "FROM tk) " +
        "SELECT doc_id, " +
        "CAST(sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0, " +
        "CAST(sum(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1, " +
        "CAST(sum(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2, " +
        "CAST(sum(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3 " +
        "FROM px GROUP BY doc_id ORDER BY doc_id"),
    // mm13's pixel formula with the three closed-form position weights
    "mm18_image_augment" ->
      ("WITH t AS (SELECT doc_id, list_sort(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS s FROM documents), " +
        "tk AS (SELECT doc_id, j, s[CAST((j * len(s)) // 64 AS BIGINT) + 1] AS tok " +
        "FROM t, unnest(generate_series(0, 63)) AS g(j)), " +
        "px AS (SELECT doc_id, j, " +
        "CASE WHEN tok IS NULL OR tok = '' THEN 0 ELSE " +
        "list_reduce([unicode(c) FOR c IN regexp_extract_all(tok, '(?s).')], " +
        "(a, c) -> (a * 31 + c) % 256) END AS v " +
        "FROM tk) " +
        "SELECT doc_id, " +
        "CAST(sum(v * (j + 1)) AS BIGINT) AS wsum_orig, " +
        "CAST(sum(v * ((7 - j % 8) + 8 * (j // 8) + 1)) AS BIGINT) AS wsum_hflip, " +
        "CAST(sum(v * ((7 - j // 8) + 8 * (j % 8) + 1)) AS BIGINT) AS wsum_rot90 " +
        "FROM px GROUP BY doc_id ORDER BY doc_id"),
    // mm13's pixel formula, regrouped by the row-major 4×4 patch grid:
    // pixel j sits at (row j//8, col j%8) → patch (row//4)*2 + col//4
    "mm14_image_patches" ->
      ("WITH " + rasterPxSql + ", " +
        "pp AS (SELECT doc_id, CAST(((j // 8) // 4) * 2 + ((j % 8) // 4) AS INT) AS patch_idx, v " +
        "FROM px) " +
        "SELECT doc_id, patch_idx, CAST(count(*) AS INT) AS n_px, " +
        "CAST(sum(v) AS BIGINT) AS px_sum, CAST(min(v) AS INT) AS px_min, " +
        "CAST(max(v) AS INT) AS px_max " +
        "FROM pp GROUP BY doc_id, patch_idx ORDER BY doc_id, patch_idx"),
    // the full Sobel replay: 1-based list index of pixel (x, y) is
    // y*8 + x + 1; interior pixels only (x, y in 1..6), |gx|+|gy| exact
    "mm17_image_edges" ->
      ("WITH " + rasterPxSql + ", " +
        "pxl AS (SELECT doc_id, list(v ORDER BY j) AS p FROM px GROUP BY doc_id), " +
        "g AS (SELECT doc_id, " +
        "abs(p[(y-1)*8+x+2] + 2*p[y*8+x+2] + p[(y+1)*8+x+2] " +
        "- p[(y-1)*8+x] - 2*p[y*8+x] - p[(y+1)*8+x]) " +
        "+ abs(p[(y+1)*8+x] + 2*p[(y+1)*8+x+1] + p[(y+1)*8+x+2] " +
        "- p[(y-1)*8+x] - 2*p[(y-1)*8+x+1] - p[(y-1)*8+x+2]) AS grad " +
        "FROM pxl, unnest(generate_series(1, 6)) AS gx(x), " +
        "unnest(generate_series(1, 6)) AS gy(y)) " +
        "SELECT doc_id, CAST(sum(grad) AS BIGINT) AS grad_sum, " +
        "CAST(max(grad) AS BIGINT) AS grad_max, " +
        "CAST(sum(CASE WHEN grad >= 255 THEN 1 ELSE 0 END) AS BIGINT) AS n_edge " +
        "FROM g GROUP BY doc_id ORDER BY doc_id"),
    // the same integer phase formula the synth uses: sample i of tone k is
    // high iff floor(i*2f/8000) is even; detection itself is pinned to the
    // literal expected index (margin argument in Tone's scaladoc)
    "mm12_audio_tone" ->
      ("WITH f(k, f) AS (VALUES (0, 500), (1, 700), (2, 900), (3, 1100)), " +
        "hi AS (SELECT k, count(*) AS n_high FROM f, " +
        "unnest(generate_series(0, 799)) AS g(i) " +
        "WHERE ((i * 2 * f) // 8000) % 2 = 0 GROUP BY k) " +
        "SELECT d.doc_id, CAST(800 AS BIGINT) AS n_samples, hi.n_high, " +
        "CAST(d.doc_id % 4 AS INT) AS tone_idx " +
        "FROM documents d JOIN hi ON d.doc_id % 4 = hi.k ORDER BY doc_id"),
    // same integer phase formula as the hop synth, per 256-sample frame;
    // peak_bin is pinned to each tone's exact fundamental bin f*256/8000
    // (margin argument in Fft's scaladoc)
    "mm16_spectrogram" -> hopSpectrogramSql,
    // identical prediction: the streaming run is the same stateless module
    "st20_stream_spectrogram" -> hopSpectrogramSql,
    // strlen = BYTE length (UTF-8), matching the decompressed entry size
    "s11_zip_roundtrip" ->
      ("SELECT source || '/' || doc_id || '.txt' AS entry_name, " +
        "CAST(strlen(text) AS BIGINT) AS n_bytes, text AS body " +
        "FROM documents ORDER BY entry_name"),
    "st5_stream_dedup" ->
      "SELECT event_id, user_id, event_type, value, props FROM events ORDER BY event_id",
    // exactly-once across the restart: every id exactly once = the table
    "st17_stream_resume" ->
      "SELECT event_id, user_id, event_type, value, props FROM events ORDER BY event_id",
    "st7_stream_join" ->
      // micros on both sides: Spark's ts is nanos floor-divided to micros,
      // DuckDB's epoch_us applies the same truncation to TIMESTAMP_NS
      ("WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t FROM events) " +
        "SELECT c.event_id AS click_id, p.event_id AS p_id, c.user_id AS user_id " +
        "FROM ev c JOIN ev p ON c.user_id = p.user_id " +
        "AND c.event_type = 'click' AND p.event_type = 'purchase' " +
        "AND p.t >= c.t AND p.t <= c.t + 3600000000 " +
        "ORDER BY click_id, p_id"),
    // left join + watermark cutoff: unmatched clicks appear only if their
    // 1h window closed before the final watermark = min(max click t, max
    // purchase t) - 1h (Spark's multi-watermark "min" policy); NULLS FIRST
    // mirrors Spark's asc_nulls_first default. Spark tracks event-time
    // watermarks in WHOLE MILLISECONDS (EventTimeStats floors µs→ms), so
    // each side's max is floored to ms before the min/delay arithmetic —
    // an exact-µs cutoff would wrongly emit rows in the sub-ms band
    "st10_stream_outer_join" ->
      ("WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t FROM events), " +
        "c AS (SELECT event_id AS click_id, user_id, t FROM ev WHERE event_type = 'click'), " +
        "p AS (SELECT event_id AS p_id, user_id AS pu, t AS pt FROM ev WHERE event_type = 'purchase'), " +
        "wm AS (SELECT (least((SELECT max(t) FROM c) // 1000, (SELECT max(pt) FROM p) // 1000) " +
        "- 3600000) * 1000 AS w), " +
        "j AS (SELECT c.click_id, p.p_id, c.user_id, c.t FROM c " +
        "LEFT JOIN p ON c.user_id = p.pu AND p.pt >= c.t AND p.pt <= c.t + 3600000000) " +
        "SELECT click_id, p_id, user_id FROM j, wm " +
        "WHERE p_id IS NOT NULL OR t + 3600000000 < w " +
        "ORDER BY click_id, p_id NULLS FIRST"),
    // full outer = st10's left cutoff (t + 1h < w) plus the right-side
    // rule: an unmatched purchase emits iff pt < w — any click it could
    // still join (t in [pt-1h, pt]) would arrive below the watermark and
    // be dropped as late, so Spark evicts-and-emits at exactly that line
    "st11_stream_full_join" ->
      ("WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t FROM events), " +
        "c AS (SELECT event_id AS click_id, user_id, t FROM ev WHERE event_type = 'click'), " +
        "p AS (SELECT event_id AS p_id, user_id AS pu, t AS pt FROM ev WHERE event_type = 'purchase'), " +
        "wm AS (SELECT (least((SELECT max(t) FROM c) // 1000, (SELECT max(pt) FROM p) // 1000) " +
        "- 3600000) * 1000 AS w), " +
        "j AS (SELECT c.click_id, p.p_id, coalesce(c.user_id, p.pu) AS user_id, c.t, p.pt " +
        "FROM c FULL JOIN p ON c.user_id = p.pu AND p.pt >= c.t AND p.pt <= c.t + 3600000000) " +
        "SELECT click_id, p_id, user_id FROM j, wm " +
        "WHERE (click_id IS NOT NULL AND p_id IS NOT NULL) " +
        "OR (click_id IS NOT NULL AND p_id IS NULL AND t + 3600000000 < w) " +
        "OR (click_id IS NULL AND pt < w) " +
        "ORDER BY click_id NULLS FIRST, p_id NULLS FIRST"),
    "st9_stream_static_join" ->
      ("SELECT event_id, user_id, c_name, c_nationkey FROM events " +
        "JOIN customer ON user_id = c_custkey " +
        "WHERE event_type = 'purchase' ORDER BY event_id"),
    "st3_window_agg" ->
      ("SELECT date_trunc('day', ts) AS wstart, event_type, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value " +
        "FROM events GROUP BY 1, 2 ORDER BY wstart, event_type"),
    "st15_stream_trending" ->
      ("WITH c AS (SELECT date_trunc('hour', ts) AS wstart, event_type, " +
        "count(*) AS n FROM events GROUP BY 1, 2), " +
        "r AS (SELECT wstart, event_type, n, CAST(row_number() OVER " +
        "(PARTITION BY wstart ORDER BY n DESC, event_type) AS INT) AS rank FROM c) " +
        "SELECT wstart, event_type, n, rank FROM r WHERE rank <= 3 " +
        "ORDER BY wstart, rank"),
    // the stream aggregates what ts3's batch groupBy aggregates, and the
    // scoring module is shared verbatim — so is the oracle
    "st14_stream_anomaly" -> AnalyticsQueries.oracle("ts3_rolling_anomaly"),
    // batch/stream parity by construction: same module, same oracle (the
    // st14 convention applied to ts6)
    "st16_stream_ewma" -> AnalyticsQueries.oracle("ts6_ewma"),
    // the maintained rollup must equal the from-scratch recompute over all
    // events, independent of the 4-way micro-batch split (DECIMAL-exact
    // additive folds commute with batching)
    "st19_stream_rollup" ->
      ("SELECT user_id, count(*) AS n, " +
        "CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total " +
        "FROM events WHERE event_type = 'purchase' " +
        "GROUP BY 1 ORDER BY 1")
  )
}
