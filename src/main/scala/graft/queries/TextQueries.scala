package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Oracle-checked text-analysis queries over `documents` (training-data
  * pipeline surface): language-ID, quality scoring, token counting,
  * fingerprinting. Every query is a single narrow projection (+ the final
  * deterministic sort for comparison).
  */
object TextQueries {
  private type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // ---- pp1: the whole preprocessing front-end in ONE Catalyst plan ----
    // langid → quality gate → exact-dedup keep-first → deterministic
    // per-source mix sampling. Everything is narrow projections + one
    // fingerprint hash-agg (map-side partial min-struct, same shape as
    // dd13) + one RNG-free filter, so the composition neither collects nor
    // re-shuffles between stages — the plan a 100 TB corpus pass wants
    "pp1_preprocess" -> { (s, dir) =>
      val scored = Tables.t(s, dir, "documents")
        .withColumn("toks", tokens(col("text")))
        .withColumn("pred_lang", langIdFromTokens(col("toks")))
        .withColumn("quality", qualityScoreFromTokens(col("toks"), col("text")))
        .filter(col("quality") >= 0.4)
      val kept = scored
        .withColumn("fp", fingerprintMd5(col("text")))
        .groupBy("fp")
        .agg(min(struct(col("doc_id"), col("pred_lang"), col("quality"),
          col("source"))).as("w"))
        .select(col("w.doc_id").as("doc_id"), col("w.pred_lang").as("pred_lang"),
          col("w.quality").as("quality"), col("w.source").as("source"))
      kept.filter(graft.ops.Sampling.stratifiedKeep(col("doc_id"), col("source"),
          Map("src0" -> 10, "src1" -> 50, "src2" -> 90), defaultPct = 30))
        .select("doc_id", "pred_lang", "quality", "source")
        .orderBy("doc_id")
    },
    // ---- pp3: the FULL curation pipeline end-to-end in one plan — the
    // round-8 showcase that the library's pieces COMPOSE: corpus-level
    // segment dedup (tx19's SegmentDedup) → quality gate on the CLEANED
    // text (tx20's stop-word floor + length) → exact-dedup keep-first on
    // the cleaned fingerprint (dd1) → decontamination vs the src0
    // reference set (tx18's gram novelty, computed on cleaned text) →
    // deterministic md5 split (tx16). Every stage is the already-oracled
    // mechanism; the oracle chains the same CTEs. Scale shape: segment and
    // gram stages co-key on the segment/gram string, dedup on the
    // fingerprint, everything else narrow — no stage collects or
    // broadcasts anything corpus-proportional -----------------------------
    "pp3_full_pipeline" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val cleaned = graft.dedup.SegmentDedup.clean(docs, "doc_id", "text",
          n = 3, maxFreq = 3)
        .filter(col("cleaned") =!= "")
        .join(docs.select("doc_id", "source"), "doc_id")
      val gated = cleaned
        .withColumn("ct", tokens(col("cleaned")))
        .withColumn("n_toks", size(col("ct")).cast("long"))
        .withColumn("n_stop", size(filter(col("ct"), t => t.isin("the", "a"))))
        .filter(col("n_toks") >= 5 &&
          col("n_stop").cast("double") / col("n_toks") >= 0.02)
      val kept = gated
        .withColumn("fp", md5(col("cleaned")))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("fp").orderBy("doc_id")))
        .filter(col("rn") === 1)
      val refGrams = docs.filter(col("source") === "src0")
        .select(explode(graft.dedup.TextDedup.wordShingles(
          tokens(col("text")), 3)).as("g")).distinct()
        .withColumn("hit", lit(1))
      val novelty = kept
        .select(col("doc_id"),
          explode(graft.dedup.TextDedup.wordShingles(col("ct"), 3)).as("g"))
        .join(refGrams, Seq("g"), "left")
        .groupBy("doc_id")
        .agg((sum(when(col("hit").isNull, 1.0).otherwise(0.0)) /
          count(lit(1))).as("novelty"))
      val h = graft.dedup.TextDedup.md5Int(col("doc_id").cast("string")) % 100
      kept.join(novelty, "doc_id")
        .filter(col("source") =!= "src0" && col("novelty") >= 0.3)
        .select(col("doc_id"), col("source"), col("n_toks"),
          when(h < 80, "train").when(h < 90, "val").otherwise("test")
            .as("split"))
        .orderBy("doc_id")
    },
    // ---- pp8: the MODERN curation pipeline end-to-end in one plan — the
    // round-12 ops composed exactly as the published LLM-data recipe
    // chains them (Lee et al. 2021 → Abbas et al. 2023 → CCNet → sampling
    // → packing): exact duplicated-substring removal (dd18's shared
    // dupSpanMask) → SemDeDup near-dup drop (dd17's shared keep-set,
    // anti-joined on the doc's embedding) → model-based quality gate
    // (tx34's trained scorer, keep z > corpus mean) → Efraimidis–Spirakis
    // weighted sample of 64 docs, weight = CLEANED token count (tx36's
    // key) → fixed-token-budget shard packing (tx7's two-stage cum).
    // Every stage is the already-oracled mechanism via its committed
    // fragment — never re-stated; the oracle chains the same CTEs. Scale
    // shape: the substring mask co-keys on the 12-gram then the doc, the
    // keep-set rides ann12's gated path (exhaustive config here for the
    // oracle — the approximate config is gated by dd17_semdedup_scale),
    // the gate is 3 one-row gradient passes + broadcasts, the sample is
    // one narrow projection + take-ordered, the pack is range-decomposed
    // — nothing corpus-sized crosses to the driver -----------------------
    "pp8_curation_pipeline" -> { (s, dir) =>
      curationPlan(s, dir, DedupQueries.semdedupKeep(s, dir)
        .filter(col("keep") === 0).select(col("vec_id").as("doc_id")))
    },
    // ---- tx24: HTML main-content extraction — the step between WARC
    // ingestion (s10) and the text pipeline: strip boilerplate blocks
    // (nav/footer), flatten remaining markup to text, report the
    // text-to-markup ratio (the classic boilerplate-density quality
    // signal). The corpus is plain text, so the query first SYNTHESIZES
    // the page deterministically (nav + main div with <br> breaks +
    // footer) with the same construction on both engines — the tx22
    // injection pattern. All narrow regex projections -------------------
    "tx24_html_extract" -> { (s, dir) =>
      val html = concat(
        lit("<html><nav>site menu doc "), col("doc_id").cast("string"),
        lit("</nav><div class=\"main\"><p>"),
        regexp_replace(col("text"), " the ", " the<br> "),
        lit("</p></div><footer>(c) "), col("source"), lit("</footer></html>"))
      val stripped = regexp_replace(
        regexp_replace(html, "(?s)<nav>.*?</nav>", ""),
        "(?s)<footer>.*?</footer>", "")
      val flat = trim(regexp_replace(stripped, "<[^>]*>", " "))
      val content = regexp_replace(flat, " +", " ")
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), content.as("content"),
          (length(content).cast("double") / length(html)).as("text_ratio"))
        .orderBy("doc_id")
    },
    "tx1_langid" -> { (s, dir) =>
      Tables.t(s, dir, "documents")
        .withColumn("toks", tokens(col("text")))
        .select(col("doc_id"), langIdFromTokens(col("toks")).as("pred_lang"))
        .orderBy("doc_id")
    },
    "tx2_quality" -> { (s, dir) =>
      Tables.t(s, dir, "documents")
        .withColumn("toks", tokens(col("text")))
        .select(col("doc_id"),
          qualityScoreFromTokens(col("toks"), col("text")).as("quality"))
        .orderBy("doc_id")
    },
    // ---- tx31: classifier evaluation — tx1's language-ID scored against
    // the corpus's labeled lang as a confusion matrix with per-true-lang
    // fractions (the recall diagonal): the model-eval primitive every
    // heuristic classifier in the curation pipeline needs next to its
    // predictions (ann10's audit pattern applied to text). One agg over
    // the narrow scored projection + a |langs|-row total re-join ---------
    "tx31_langid_eval" -> { (s, dir) =>
      val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
      val pred = Tables.t(s, dir, "documents")
        .withColumn("toks", tokens(col("text")))
        .select(col("lang"), langIdFromTokens(col("toks")).as("pred_lang"))
      val cells = pred.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      // totals from the already-aggregated cells — ONE corpus scan, the
      // interpreted langId scoring runs once, not twice
      val tot = cells.groupBy("lang").agg(sum(col("n")).as("total"))
      cells.join(broadcast(tot), "lang")
        .select(col("lang"), col("pred_lang"), col("n"),
          (col("n").cast("double") / col("total"))
            .cast(D6).cast("double").as("frac"))
        .orderBy("lang", "pred_lang")
    },
    "tx3_token_counts" -> { (s, dir) =>
      Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          tokenCount(col("text")).cast("long").as("n_ws_tokens"),
          bpeUnitCount(col("text")).cast("long").as("n_bpe_units"))
        .orderBy("doc_id")
    },
    "tx4_fingerprint" -> { (s, dir) =>
      Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    },
    // PII scrub: deterministic PII injected per doc, then redacted in one
    // chained regexp_replace projection — both steps replayed by the oracle
    "tx6_pii_scrub" -> { (s, dir) =>
      Tables.t(s, dir, "documents")
        .withColumn("raw", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0.0."),
          (col("doc_id") % 256).cast("string"),
          lit(" call 555-123-4567 ssn 987-65-4321")))
        .select(col("doc_id"), scrubPii(col("raw")).as("clean"))
        .orderBy("doc_id")
    },
    // shard packing: assign docs to fixed-token-budget training shards by
    // cumulative token count per lang. Two-stage so no single task ever
    // sorts a whole language (at corpus scale ~half the corpus is one lang):
    // range size 100 here so the small-SF test genuinely exercises the
    // multi-range offset merge
    "tx7_shard_packing" -> { (s, dir) =>
      packShards(
        Tables.t(s, dir, "documents")
          .withColumn("n_tokens", tokenCount(col("text")).cast("long")),
        rangeSize = 100L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          expr("(cum - n_tokens) div 1000").as("shard"))
        .orderBy("doc_id")
    },
    // repeated-bigram ratio: 1 - distinct/total word 2-grams — the standard
    // corpus-quality repetition signal (boilerplate/spam filter); one narrow
    // projection, shares the dedup shingle machinery
    "tx9_repetition" -> { (s, dir) =>
      Tables.t(s, dir, "documents")
        .withColumn("toks", tokens(col("text")))
        .withColumn("total", greatest(size(col("toks")) - 1, lit(0)))
        .withColumn("uniq", size(graft.dedup.TextDedup.wordShingles(col("toks"), 2)))
        .select(col("doc_id"),
          when(col("total") === 0, lit(0.0))
            .otherwise(lit(1.0) -
              col("uniq").cast("double") / col("total").cast("double"))
            .as("rep_ratio"))
        .orderBy("doc_id")
    },
    // ---- tx26: per-document TF-IDF keyword extraction — top-3 terms per
    // doc (tagging/retrieval surface next to tx15's query-side BM25).
    // Shape: tf from one explode+agg co-keyed on (doc, token); df is a
    // vocab-sized aggregate joined back on the token key. Ranking uses
    // the DECIMAL(18,6)-ROUNDED score (desc, then token): tf·ln(N/df) has
    // real-arithmetic ties across different (tf, df) pairs — e.g.
    // 2·ln4 = 1·ln16 — whose last-ulp libm drift would otherwise order
    // differently per engine; rounding first makes every near-tie an
    // exact tie broken by the token string ------------------------------
    "tx26_tfidf_keywords" -> { (s, dir) =>
      val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
      val docs = Tables.t(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
      val tf = docs.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = docs.select("doc_id", "token").distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
      val scored = tf.join(df, "token").crossJoin(broadcast(n))
        .withColumn("score",
          (col("tf") * log(col("n_docs").cast("double") / col("df")))
            .cast(D6).cast("double"))
      scored.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
            .orderBy(col("score").desc, col("token"))))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("token"), col("score"),
          col("rank").cast("int").as("rank"))
        .orderBy("doc_id", "rank")
    },
    // ---- tx27: padding-waste accounting — the batching-efficiency
    // analytic behind length-bucketed training: docs batched 8-by-8 in id
    // order (batch id = doc_id div 8 — a narrow projection, no global
    // window), per-batch padded-token waste vs the 128-cap truncated
    // lengths. waste/(n·max) is an exact integer ratio → identical double
    // division, no rounding ----------------------------------------------
    // ---- tx28: tokenizer vocabulary coverage / OOV rate — the shipping
    // check before a tokenizer meets a corpus: the vocab is the TOP-20
    // most frequent tokens of the reference slice (vocabs are size-capped;
    // an uncapped vocab here would cover everything and measure nothing),
    // and every source reports instance + type OOV against it. Scale
    // shape: the cap ranks only the VOCAB-sized count table (bounded by
    // vocabulary, not corpus); coverage is one co-keyed left join on the
    // token and a map-side-combinable per-source aggregate — the vocab is
    // never collected to the driver -------------------------------------
    "tx28_vocab_coverage" -> { (s, dir) =>
      val toks = Tables.t(s, dir, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
      val vocab = toks.filter(col("source") === "src0")
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(20)
        .select(col("tok"), lit(1).as("__in"))
      toks.join(vocab, Seq("tok"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"),
          countDistinct(col("tok")).as("n_types"),
          countDistinct(when(col("__in").isNull, col("tok"))).as("n_oov_types"))
        .withColumn("oov_rate", (col("n_oov").cast("double") /
          col("n_tokens").cast("double"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).cast("double"))
        .orderBy("source")
    },
    "tx27_padding_waste" -> { (s, dir) =>
      Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          least(size(tokens(col("text"))).cast("long"), lit(128L)).as("len"))
        .groupBy((col("doc_id") / 8).cast("long").as("batch_id"))
        .agg(count(lit(1)).as("n_docs"), max(col("len")).as("max_len"),
          sum(col("len")).as("total_tokens"))
        .withColumn("waste",
          col("n_docs") * col("max_len") - col("total_tokens"))
        .withColumn("waste_ratio", col("waste").cast("double") /
          (col("n_docs") * col("max_len")).cast("double"))
        .orderBy("batch_id")
    },
    // ---- BM25 retrieval scoring (the retrieval half of contamination /
    // dedup tooling): score every document against a fixed query term set.
    // Shape: tf from one narrow explode+filter (terms pre-filter BEFORE the
    // aggregate, so only matching tokens ever shuffle), df and the corpus
    // stats are tiny aggregates broadcast back — at 100 TB the only
    // full-corpus pass is the scan itself; idf/avgdl ride along as 1-row /
    // |terms|-row broadcasts. Score rounded DECIMAL(18,6) on both sides
    // (ln differs in last ulp across libms). ----------------------------
    // scoring now lives in SearchQueries.bm25Raw — ONE definition shared
    // with idx7's ranked retrieval (the f414cb9 drift-proofing rule)
    "tx15_bm25" -> { (s, dir) =>
      SearchQueries.bm25Raw(Tables.t(s, dir, "documents"))
        .select(col("doc_id"),
          col("bm25_raw").cast(org.apache.spark.sql.types.DecimalType(18, 6))
            .cast("double").as("bm25"))
        .orderBy("doc_id")
    },
    // ---- deterministic train/val/test split: hash-threshold on doc_id
    // (the same md5-mod-100 device as tx10's mix sampler) — reproducible
    // across runs/engines/partitionings, a pure narrow projection, and
    // stable under corpus growth (a doc's split never changes when other
    // docs arrive) -------------------------------------------------------
    "tx16_train_split" -> { (s, dir) =>
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.dedup.TextDedup.trainValTestSplit(col("doc_id")).as("split"))
        .orderBy("doc_id")
    },
    // ---- n-gram novelty vs a reference corpus: per doc, the fraction of
    // its distinct word-3-grams ABSENT from the reference set (src0 docs)
    // — the "how much of this is new text" curation signal, complementary
    // to dd7's contamination check (dd7 broadcasts a SMALL benchmark set;
    // this one co-keys doc grams with an arbitrarily LARGE reference on
    // the gram key — both scale regimes covered). Exact integer ratio,
    // hash-matches unrounded ---------------------------------------------
    "tx18_ngram_novelty" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
        .withColumn("gs", graft.dedup.TextDedup.wordShingles(
          tokens(col("text")), 3))
      val refGrams = docs.filter(col("source") === "src0")
        .select(explode(col("gs")).as("g")).distinct()
        .withColumn("hit", lit(1))
      docs.filter(col("source") =!= "src0")
        .select(col("doc_id"), explode(col("gs")).as("g"))
        .join(refGrams, Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("novel"))
        .select(col("doc_id"),
          (col("novel").cast("double") / col("n")).as("novelty"))
        .orderBy("doc_id")
    },
    // ---- character-entropy quality score: H = −Σ p·ln p over each doc's
    // character distribution — the cheap gibberish/boilerplate detector
    // (low-entropy = repeated filler, high = random bytes). One explode +
    // two co-keyed aggregations on doc_id (the second reuses the first's
    // exchange); DECIMAL(18,6) on both sides (ln + float sum order) ------
    "tx17_char_entropy" -> { (s, dir) =>
      // CODEPOINT split, not split(text, ""): the empty-pattern split yields
      // UTF-16 code units (surrogate halves for non-BMP chars), while the
      // oracle's '(?s).' matches codepoints. Java regex '.' is itself
      // codepoint-aware, so extracting on the same pattern keeps both
      // engines counting the same characters even for emoji/supplementary.
      val cnt = Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(text, '(?s).', 0)")).as("c"))
        .filter(length(col("c")) > 0)
        .groupBy("doc_id", "c").agg(count(lit(1)).as("k"))
      val tot = cnt.groupBy("doc_id").agg(sum(col("k")).as("len"))
      cnt.join(tot, "doc_id")
        .withColumn("p", col("k").cast("double") / col("len"))
        .groupBy("doc_id")
        .agg((-sum(col("p") * log(col("p")))).as("e"))
        .select(col("doc_id"),
          col("e").cast(org.apache.spark.sql.types.DecimalType(18, 6))
            .cast("double").as("entropy"))
        .orderBy("doc_id")
    },
    // corpus vocabulary: global token frequencies, top-100 (partial agg +
    // TakeOrdered — count-then-top-k, never a global sort of the vocab)
    "tx8_top_tokens" -> { (s, dir) =>
      Tables.t(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(100)
    },
    // fixed-token-window chunking with overlap (training-sequence prep):
    // chunk c covers tokens [c·stride, c·stride + chunkSize); a narrow
    // explode with per-doc-bounded fan-out — no shuffle, no UDF, chunk
    // count ⌊(n−1)/stride⌋+1 so every token lands in ≥1 chunk
    "tx11_chunking" -> { (s, dir) =>
      val chunkSize = 64
      val stride = 48
      Tables.t(s, dir, "documents")
        .withColumn("toks", tokens(col("text")))
        .withColumn("chunk_idx", explode(sequence(lit(0),
          floor((size(col("toks")) - 1) / lit(stride)).cast("int"))))
        .select(col("doc_id"), col("chunk_idx"),
          size(slice(col("toks"), col("chunk_idx") * lit(stride) + 1,
            lit(chunkSize))).as("n_tokens"),
          concat_ws(" ", slice(col("toks"), col("chunk_idx") * lit(stride) + 1,
            lit(chunkSize))).as("chunk"))
        .orderBy("doc_id", "chunk_idx")
    },
    // ---- per-GROUP percentile gate: keep each language's top-20%-length
    // docs. Cutpoints are computed per group (one agg) and joined back —
    // no per-group sort window; the cutpoint table is group-cardinality
    // sized and broadcasts --------------------------------------------
    "tx14_group_percentile_gate" -> { (s, dir) =>
      // rank-based cutpoint, INTEGER arithmetic only: threshold = min value
      // whose cumulative count covers 80% (cc*10 >= 8*n). An interpolated
      // percentile would put a float on the comparison boundary, and the
      // two engines' interpolation can differ by 1 ulp exactly where a
      // tied integer value sits — flipping row MEMBERSHIP, not just a
      // value. The cumsum window runs over DISTINCT values per lang
      val W = org.apache.spark.sql.expressions.Window
      val docs = Tables.t(s, dir, "documents")
      val vc = docs.groupBy("lang", "n_chars").agg(count(lit(1)).as("c"))
      val wcum = W.partitionBy("lang").orderBy("n_chars")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val tot = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      val cut = vc.withColumn("cc", sum(col("c")).over(wcum))
        .join(tot, "lang")
        .filter(col("cc") * 10 >= col("n") * 8)
        .groupBy("lang").agg(min(col("n_chars")).as("thr"))
      docs.join(broadcast(cut), "lang")
        .filter(col("n_chars") > col("thr"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
    // ---- pp2: curriculum packing — value-based decile bucketing (exact
    // global percentile CUTPOINTS broadcast + comparison assignment: no
    // whole-corpus ntile window, ties bucket by VALUE so the result is
    // position-independent), keep the upper half, pack the survivors into
    // token-budget shards per language (tx7's two-stage machinery) -------
    "pp2_curriculum" -> { (s, dir) =>
      // decile CUTPOINTS by integer rank counting (c_i = min value whose
      // cumulative count covers i/10 of the corpus; cc*10 >= i*n — no
      // floats anywhere near the bucket boundaries, see tx14). The global
      // cumsum window runs over DISTINCT n_chars values only
      val W = org.apache.spark.sql.expressions.Window
      val docs = Tables.t(s, dir, "documents")
      val vc = docs.groupBy("n_chars").agg(count(lit(1)).as("c"))
      val wcum = W.orderBy("n_chars")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val tot = docs.agg(count(lit(1)).as("n"))
      val cuts = vc.withColumn("cc", sum(col("c")).over(wcum))
        .crossJoin(broadcast(tot))
        .select(col("n_chars").as("v"), col("cc"), col("n"),
          explode(sequence(lit(1), lit(9))).as("i"))
        .filter(col("cc") * 10 >= col("i") * col("n"))
        .groupBy("i").agg(min(col("v")).as("cv"))
        .agg(collect_list(col("cv")).as("cvs"))
      val decile = lit(1) +
        size(filter(col("cvs"), cv => col("n_chars") > cv))
      docs.crossJoin(broadcast(cuts))
        .withColumn("decile", decile.cast("long"))
        .filter(col("decile") >= 5)
        .withColumn("n_tokens", tokenCount(col("text")).cast("long"))
        .transform(packShards(_, rangeSize = 100L))
        .select(col("doc_id"), col("lang"), col("decile"),
          expr("(cum - n_tokens) div 1000").as("shard"))
        .orderBy("doc_id")
    },
    // ---- exact heavy hitters without a full-vocabulary shuffle: per-
    // partition Misra-Gries summaries -> provable candidate superset
    // (broadcast) -> exact counts of candidates only. The oracle is the
    // full groupBy-everything formulation; results are identical ----------
    "hh1_heavy_hitters" -> { (s, dir) =>
      val toks = Tables.t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
      graft.ops.HeavyHitters.exact(toks, "token", m = 200)
        .orderBy("token")
    },
    // ---- repeated-span coverage (Lee et al. exact-substring shape): the
    // fraction of each doc's 10-token windows that also occur in ANOTHER
    // doc — the quality signal behind "remove docs that are mostly
    // boilerplate". ALL window positions count (not distinct grams):
    // explode windows → per-gram doc frequency (shuffled equi-join on the
    // gram, the df side is corpus-sized so no broadcast) → per-doc ratio
    // as one exact-int division -------------------------------------------
    "tx13_dup_span_ratio" -> { (s, dir) =>
      val n = 10
      val win = Tables.t(s, dir, "documents")
        .withColumn("__toks", split(col("text"), " "))
        .filter(size(col("__toks")) >= n)
        .select(col("doc_id"), explode(
          // native one-pass window extraction (duplicates kept) — same
          // values as transform(sequence, concat_ws(slice)) per window
          graft.functions.TextHashFunctions.word_windows(col("__toks"), n))
          .as("g"))
      val df = win.groupBy("g").agg(countDistinct(col("doc_id")).as("docs"))
      win.join(df, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("docs") > 1, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_ratio",
          col("n_dup").cast("double") / col("n_windows"))
        .orderBy("doc_id")
    },
    // corpus-frequency quality score (unigram-likelihood proxy, the
    // CCNet/Gopher-style LM filter shape): global vocab counts, broadcast
    // back onto each doc's tokens, per-doc mean token frequency + OOV-free
    // token count. Two phases over the corpus — vocab agg, then a
    // broadcast re-join — with only integer sums aggregated (exact, so the
    // oracle matches bit-for-bit; a production scorer would apply ln per
    // token, which libm-vs-JVM last-ulp drift keeps out of the oracle).
    // At 100 TB the broadcast side must be the min-count-pruned vocab —
    // here the corpus vocab is small; prune with a HAVING count >= k stage
    "tx12_freq_score" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val vocab = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum("cnt").as("n_total"))
      tok.join(broadcast(vocab), Seq("token"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("cnt").as("freq_sum"))
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("n_tokens"),
          (col("freq_sum").cast("double") / col("n_tokens") /
            col("n_total").cast("double")).as("mean_freq"))
        .orderBy("doc_id")
    },
    // ---- tx19: corpus-level duplicate-SEGMENT removal (the C4/RefinedWeb
    // boilerplate pass, re-shaped for a single-line corpus: "lines" are
    // consecutive 3-token windows). Segment counts are a plain co-keyed
    // hash-agg on the segment string — the gram-co-keyed regime (tx18), so
    // the dup table is never collected or broadcast and the pass holds at
    // corpus scale where the duplicate set itself is huge. Docs whose every
    // segment is boilerplate survive as empty strings (left join), exactly
    // like C4's cleaned shards ----------------------------------------------
    "tx19_segment_dedup" -> { (s, dir) =>
      graft.dedup.SegmentDedup.clean(Tables.t(s, dir, "documents"),
          "doc_id", "text", n = 3, maxFreq = 3)
        .orderBy("doc_id")
    },
    // ---- tx20: Gopher-style repetition/quality rule battery — the named
    // filter set (Rae et al. 2021 §A1.1) over this corpus's shape: mean
    // word length window, stop-word floor, duplicate-segment ceiling, and
    // top-bigram character-mass ceiling. All integer counts + final double
    // divisions (hash-exact cross-engine, no libm). Word stats stay NARROW
    // (higher-order aggregate over the token array, no explode); only the
    // bigram mass needs a per-(doc,gram) hash-agg, co-keyed on doc_id.
    // Tie-handling: "top bigram mass" is max over grams of cnt·len(gram) —
    // deterministic under count ties without a lexicographic tiebreak ------
    "tx20_gopher_rules" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      val word = docs.select(col("doc_id"), length(col("text")).as("text_chars"),
        size(col("toks")).as("n_toks"),
        aggregate(col("toks"), lit(0L), (a, t) => a + length(t)).as("tok_chars"),
        size(filter(col("toks"), t => t.isin("the", "a"))).as("n_stop"),
        size(graft.dedup.SegmentDedup.segments(col("toks"), 3)).as("n_segs"),
        size(array_distinct(graft.dedup.SegmentDedup.segments(col("toks"), 3)))
          .as("n_dist"))
      // single-token guard: sequence(0, -1) would DESCEND in Spark and
      // slice(_, 0, _) throws — empty array instead, so the explode drops
      // the doc exactly like the oracle's empty generate_series
      // (wordShingles' convention)
      val topBigram = docs
        .select(col("doc_id"), explode(when(size(col("toks")) >= 2, transform(
          sequence(lit(0), (size(col("toks")) - 2).cast("int")),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(2)))))
          .otherwise(array().cast("array<string>"))).as("gram"))
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(max(col("c") * length(col("gram"))).as("top_chars"))
      word.join(topBigram, "doc_id")
        .select(col("doc_id"),
          (col("tok_chars").cast("double") / col("n_toks")).as("mean_word_len"),
          (col("n_stop").cast("double") / col("n_toks")).as("stop_frac"),
          (lit(1.0) - col("n_dist").cast("double") / col("n_segs")).as("dup_seg_frac"),
          (col("top_chars").cast("double") / col("text_chars")).as("top_bigram_frac"))
        .withColumn("passes",
          (col("mean_word_len") >= 3 && col("mean_word_len") <= 10 &&
            col("stop_frac") >= 0.03 && col("dup_seg_frac") <= 0.02 &&
            col("top_bigram_frac") <= 0.12).cast("int"))
        .orderBy("doc_id")
    },
    // ---- tx21: naive-Bayes quality classifier — the in-engine stand-in
    // for the fastText-style model-based filters (CCNet/DataComp): train
    // per-token log-odds from source-labeled subsets, score every doc.
    // Two corpus passes: (1) token-co-keyed class counts over the LABELED
    // slice; (2) broadcast vocab re-join against all docs (tx12's regime —
    // at corpus scale the broadcast side must be the min-count-pruned
    // vocab). Per-token weights round to DECIMAL(18,8) BEFORE the per-doc
    // sum, so the aggregation is exact decimal arithmetic — order-free,
    // unlike a double sum — and the one libm call per DISTINCT token is the
    // only float op (tx17's accepted regime). Label decided on the exact
    // decimal score so the class boundary is hash-stable too --------------
    "tx21_nb_classifier" -> { (s, dir) =>
      val D8 = org.apache.spark.sql.types.DecimalType(18, 8)
      val docs = Tables.t(s, dir, "documents")
      val lab = docs.withColumn("y",
        when(col("source").isin("src1", "src3", "src5"), 1)
          .when(col("source").isin("src2", "src4", "src6"), 0))
        .filter(col("y").isNotNull)
      val ltok = lab.select(col("y"), explode(tokens(col("text"))).as("tok"))
      val vocab = ltok.groupBy("tok")
        .agg(sum(col("y")).as("pos_cnt"), sum(lit(1) - col("y")).as("neg_cnt"))
      val tot = vocab.agg(sum("pos_cnt").as("pos_tot"),
        sum("neg_cnt").as("neg_tot"), count(lit(1)).as("v"))
      val prior = lab.agg(
        log(sum(col("y")).cast("double") / sum(lit(1) - col("y")))
          .cast(D8).as("p"))
      val alltok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val scored = alltok
        .join(broadcast(vocab), Seq("tok"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("w",
          (log((coalesce(col("pos_cnt"), lit(0L)) + 1.0) / (col("pos_tot") + col("v"))) -
            log((coalesce(col("neg_cnt"), lit(0L)) + 1.0) / (col("neg_tot") + col("v"))))
            .cast(D8))
        .groupBy("doc_id").agg(sum(col("w")).as("s"))
      // NO final re-round: the 8dp decimal sum is already exact/order-free,
      // and a decimal→decimal(18,6) recast has engine-divergent TIE
      // handling (Spark HALF_UP vs DuckDB half-even) on the ...50 values
      // the 8dp grid genuinely produces. decimal→double is correctly
      // rounded (tie-free off the binary grid) on both engines.
      scored.crossJoin(broadcast(prior))
        .withColumn("r", col("s") + col("p"))
        .select(col("doc_id"), col("r").cast("double").as("nb_score"),
          (col("r") > 0).cast("int").as("pred_pos"))
        .orderBy("doc_id")
    },
    // ---- tx22: Unicode canonicalization — NFC normalize + accent strip
    // via the native codegen expression (functions/UnicodeNormalize; Spark
    // has no built-in). The corpus is ASCII, so the query first INJECTS
    // decomposed accents deterministically (odd doc_ids: e → e+U+0301) with
    // the same rewrite on both engines, then checks the full normalized
    // STRINGS hash-equal (DuckDB nfc_normalize/strip_accents are the
    // oracle). Codepoint counts prove the composition actually happened
    // (n_nfc < n_raw on injected docs) -------------------------------------
    "tx22_unicode_normalize" -> { (s, dir) =>
      import graft.functions.GraftFunctions
      val injected = when(col("doc_id") % 2 === 1,
        regexp_replace(col("text"), "e", "e\u0301")).otherwise(col("text"))
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), injected.as("itext"))
        .select(col("doc_id"),
          GraftFunctions.unicode_norm(col("itext")).as("nfc"),
          GraftFunctions.strip_accents(col("itext")).as("stripped"),
          length(col("itext")).cast("long").as("n_raw"),
          length(GraftFunctions.unicode_norm(col("itext"))).cast("long").as("n_nfc"))
        .orderBy("doc_id")
    },
    // ---- tx23: BPE tokenizer TRAINED on the corpus (functions/Bpe), then
    // applied via the codegen encode/decode expressions — as a VERDICT
    // query: `roundtrip_ok` (decode∘encode == original text) pins the
    // merge-application semantics, `did_compress` (fewer units than the
    // char+marker floor, i.e. ≥1 learned merge fired in EVERY doc) pins
    // that training actually learned the corpus's frequent pairs — the
    // oracle writes literal 1s for both, so a trainer or encoder
    // regression is a hash failure. Train: one full-corpus word-count
    // pass, then vocabulary-sized distributed rounds with a 1-row argmax
    // collect each (KMeans-codebook regime). BpeSpec pins the learned
    // merges on a hand-computed corpus ------------------------------------
    "tx23_bpe_roundtrip" -> { (s, dir) =>
      import graft.functions.GraftFunctions._
      val docs = Tables.t(s, dir, "documents")
      val merges = graft.functions.Bpe.train(docs, "text", numMerges = 10)
      docs.select(col("doc_id"), col("text"),
          bpe_encode(col("text"), merges).as("units"))
        .select(col("doc_id"),
          (bpe_decode(col("units")) === col("text")).cast("int").as("roundtrip_ok"),
          // initial units per doc = chars-excl-spaces + one Eow per word
          // = length(text) + 1; strictly fewer ⇔ some merge applied
          (size(col("units")) < length(col("text")) + 1).cast("int").as("did_compress"))
        .orderBy("doc_id")
    },
    // search-index dual fields: raw columns untouched + analyzed __tokens
    // arrays per SearchIndexSchema (tokenize-by-default, overrides opt out)
    "tx5_tokenized_fields" -> { (s, dir) =>
      val schema = graft.model.SearchIndexSchema(
        tokenizeByDefault = true,
        typeOverride = Map("lang" -> "STRING", "source" -> "STRING"))
      graft.store.SearchIndexer.withAnalyzedFields(
          Tables.t(s, dir, "documents"), schema)
        .select(col("doc_id"), col("lang"),
          size(col("text__tokens")).as("n_tokens"),
          array_join(slice(col("text__tokens"), 1, 5), " ").as("head_tokens"))
        .orderBy("doc_id")
    },
    // ---- tx29: PMI collocation mining — the phrase-detection statistic
    // behind tokenizer vocab construction and word2vec-style phrase
    // merging: PMI(x,y) = ln(c(xy)·N² / (B·c(x)·c(y))) over adjacent
    // bigrams, min-support 5. Everything inside the ln is exact integer
    // algebra; the double products are IEEE-exact-rounded in the same
    // left-assoc order on both engines, so only ln's last ulp varies →
    // one DECIMAL(18,6) round. Scale shape: bigrams are built NARROW
    // (zip toks with its own tail — no positional self-join), counts are
    // map-side-combined on (w1,w2); unigram counts re-join CO-KEYED on
    // the token (the vocab is corpus-sized — never broadcast, never
    // collected); N/B ride a 1-row broadcast ---------------------------
    "tx29_pmi_collocations" -> { (s, dir) =>
      val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
      val docs = Tables.t(s, dir, "documents")
        .select(tokens(col("text")).as("toks"))
      val uni = docs.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val totals = broadcast(docs.agg(
        sum(size(col("toks")).cast("long")).as("n_tok"),
        sum((size(col("toks")) - 1).cast("long")).as("n_big")))
      val bg = docs.select(explode(arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1))).as("p"))
        .select(col("p.0").as("w1"), col("p.1").as("w2"))
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("n_xy"))
        .filter(col("n_xy") >= 5)
        .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(totals)
        .select(col("w1"), col("w2"), col("n_xy"),
          log(col("n_xy").cast("double") * col("n_tok") * col("n_tok") /
            (col("n_big").cast("double") * col("c1") * col("c2")))
            .cast(D6).cast("double").as("pmi"))
        .orderBy("w1", "w2")
    },
    // ---- tx32: greedy generation from the corpus bigram model — the
    // inference-shaped workload on a Spark-trained LM: from each of the 3
    // most frequent tokens, walk 5 greedy steps of next(w) = argmax over
    // bigram counts (tie → lexicographically greatest successor, one
    // max(struct) per head word — the rl1 winner-pick shape). The next-
    // token table is vocab-co-keyed and never collected; the 5 steps are
    // unrolled co-keyed joins against it (a fixed-K chain, not a driver
    // loop). A dead-end head simply stops emitting --------------------
    "tx32_greedy_generate" -> { (s, dir) =>
      val toksDf = Tables.t(s, dir, "documents")
        .select(tokens(col("text")).as("ts"))
      val uni = toksDf.select(explode(col("ts")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val seeds = uni.orderBy(col("c").desc, col("w")).limit(3)
        .select(col("w").as("seed"))
      val bg = toksDf.select(explode(arrays_zip(
          slice(col("ts"), lit(1), size(col("ts")) - 1),
          slice(col("ts"), lit(2), size(col("ts")) - 1))).as("p"))
        .select(col("p.0").as("w1"), col("p.1").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      val next = bg.groupBy("w1")
        .agg(max(struct(col("c"), col("w2"))).as("m"))
        .select(col("w1"), col("m.w2").as("nx"))
      var cur = seeds.select(col("seed"), col("seed").as("tok"))
      val steps = (1 to 5).map { k =>
        cur = cur.join(next, col("tok") === col("w1"))
          .select(col("seed"), col("nx").as("tok"))
        cur.select(col("seed"), lit(k).as("step"), col("tok"))
      }
      steps.reduce(_ unionByName _).orderBy("seed", "step")
    },
    // ---- tx30: Zipf-law fit per source — OLS slope/intercept of
    // ln(freq) on ln(rank) over each source's top-100 tokens, the classic
    // corpus-health diagnostic (natural text ≈ -1; templated/spam corpora
    // deviate). Float discipline: ln of small exact ints, per-term
    // DECIMAL(28,12) casts make the moment sums order-free (the pp4/g20
    // regime), the closed-form slope is then identical IEEE double
    // algebra, one DECIMAL(18,6) round. Scale shape: one map-side-combined
    // token count is the only corpus-sized pass; the rank window runs per
    // source over its vocab (sort-based, spills) and the regression runs
    // on ≤100 rows per source --------------------------------------------
    "tx30_zipf" -> { (s, dir) =>
      val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
      val D28 = org.apache.spark.sql.types.DecimalType(28, 12)
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("cnt").desc, col("token"))
      val cnt = Tables.t(s, dir, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("cnt"))
      val xy = cnt.withColumn("rank", row_number().over(W))
        .filter(col("rank") <= 100)
        .select(col("source"), log(col("rank").cast("double")).as("x"),
          log(col("cnt").cast("double")).as("y"))
      xy.groupBy("source")
        .agg(count(lit(1)).cast("double").as("np"),
          sum(col("x").cast(D28)).cast("double").as("sx"),
          sum(col("y").cast(D28)).cast("double").as("sy"),
          sum((col("x") * col("x")).cast(D28)).cast("double").as("sxx"),
          sum((col("x") * col("y")).cast(D28)).cast("double").as("sxy"))
        // a one-token source has zero x-variance → 0/0; drop it on both
        // engines (the ts8/ts11 degenerate-series rule) rather than let
        // NaN diverge at the DECIMAL cast
        .filter(col("np") * col("sxx") - col("sx") * col("sx") > 0)
        .withColumn("slope",
          (col("np") * col("sxy") - col("sx") * col("sy")) /
            (col("np") * col("sxx") - col("sx") * col("sx")))
        .select(col("source"), col("np").cast("long").as("n_terms"),
          col("slope").cast(D6).cast("double").as("zipf_slope"),
          ((col("sy") - col("slope") * col("sx")) / col("np"))
            .cast(D6).cast("double").as("intercept"))
        .orderBy("source")
    },
    // ---- tx33: a TRAINED quality-filter classifier beyond naive Bayes —
    // logistic regression by full-batch gradient descent (the fastText /
    // CCNet model-filter stand-in with actual iterative optimization).
    // Target: lang = 'en' from surface features (length, space ratio,
    // 'e' ratio, vowel ratio) — exactly the signals a char-ngram langid
    // uses. Determinism contract (fe3's regime): FIXED 3 iterations from
    // w = 0, per-doc gradient terms (σ(z)−y)·x cast DECIMAL(28,12) before
    // their sums — exact, order-free — then identical IEEE double algebra
    // for the step; the oracle unrolls the same three iterations in SQL
    // CTEs and replays the identical float sequence. No driver-side model
    // state: weights live as a broadcast 1-row frame, pinned per round.
    // Scale shape: one narrow feature projection, 3 × (corpus pass into a
    // 1-row map-side-combined gradient aggregate), held-out scoring as one
    // more narrow pass — all broadcast joins, nothing corpus-sized ever
    // shuffles -------------------------------------------------------------
    "tx33_logreg_quality" -> { (s, dir) =>
      val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
      val (w, feats) = logregTrain(s, dir)
      val test = feats.filter(col("doc_id") % 5 === 0)
      // held-out accuracy on the decision boundary z > 0 — the same
      // unrolled double dot product both engines evaluate
      val acc = logregZ(test.crossJoin(broadcast(w)))
        .agg(count(lit(1)).as("n_test"),
          sum(((col("z") > 0) === (col("y") === 1)).cast("long"))
            .as("n_correct"))
      w.crossJoin(broadcast(acc)).select(
        col("w0").cast(D6).cast("double").as("w0"),
        col("w1").cast(D6).cast("double").as("w1"),
        col("w2").cast(D6).cast("double").as("w2"),
        col("w3").cast(D6).cast("double").as("w3"),
        col("w4").cast(D6).cast("double").as("w4"),
        col("n_test"), col("n_correct"),
        (col("n_correct").cast("double") / col("n_test"))
          .cast(D6).cast("double").as("accuracy"))
    },
    // ---- tx34: the trained model APPLIED as a corpus filter — the other
    // half of the model-based curation stage, in CCNet's RELATIVE form:
    // keep documents scoring above the corpus MEAN (the 3-iteration model
    // ranks correctly long before its absolute decision boundary
    // calibrates, and quantile/mean-relative keep rules are how production
    // filters actually threshold). tx33's exact training replayed (shared
    // code path), one narrow scoring pass, one 1-row exact-decimal mean
    // broadcast back. Output capped to doc_id < 200 for dump size — the
    // keep decision is computed for every row. Scale shape: 3 gradient
    // passes (1-row aggregates) + two broadcast-1-row projections ---------
    "tx34_model_filter" -> { (s, dir) =>
      val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
      val D28 = org.apache.spark.sql.types.DecimalType(28, 12)
      val (w, feats) = logregTrain(s, dir)
      val scored = logregZ(feats.crossJoin(broadcast(w)))
      val zbar = scored.agg(
        (sum(col("z").cast(D28)).cast("double") / count(lit(1))).as("zbar"))
      scored.crossJoin(broadcast(zbar))
        .filter(col("z") > col("zbar") && col("doc_id") < 200)
        .select(col("doc_id"), col("y").as("actual_en"),
          col("z").cast(D6).cast("double").as("score"))
        .orderBy("doc_id")
    },
    // ---- tx35: EXACT AUC/ROC for the trained classifier — the ranking
    // metric a quality filter actually thresholds on (tx33's accuracy
    // answers "is the boundary right", AUC answers "does the model order
    // documents correctly", which is what a CCNet-style relative filter
    // consumes). Mann-Whitney form with exact tie handling: collapse the
    // held-out scores per DISTINCT z into (npos, nneg) tallies, then
    // AUC = Σ_z npos(z)·(negatives strictly below z + ½·nneg(z)) / (n⁺n⁻)
    // — doubled through the sum so everything stays INTEGER until the one
    // final division (exact cross-engine, no epsilon anywhere). The
    // cumulative-below sum uses the SortedNeighborhood global-rank
    // decomposition: range-partition by z, per-partition running sums
    // (window bounded by the partition), per-partition totals — a
    // numPartitions-row table — cumsum'd and broadcast back as offsets.
    // No corpus-sized unpartitioned window; PlanSpec asserts that shape.
    // Scale: train = tx33's three 1-row gradient passes; the metric adds
    // one groupBy(z) map-side-combined tally + the decomposed cumsum ------
    "tx35_logreg_auc" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
      val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val (w, feats) = logregTrain(s, dir)
      val test = feats.filter(col("doc_id") % 5 === 0)
      val g = logregZ(test.crossJoin(broadcast(w)))
        .groupBy("z").agg(sum(col("y").cast("long")).as("npos"),
          sum(lit(1L) - col("y")).as("nneg"))
      // localCheckpoint pins ONE materialization of the range exchange:
      // the offsets table and the main pass must see the same partition
      // ids (the SortedNeighborhood discipline)
      val ranked = g.repartitionByRange(col("z"))
        .sortWithinPartitions("z")
        .withColumn("__pid",
          shiftright(monotonically_increasing_id(), 33))
        .localCheckpoint()
      val offsets = ranked.groupBy("__pid").agg(sum("nneg").as("__cnt"))
        .withColumn("__off", coalesce(sum(col("__cnt")).over(
          Window.orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("__pid", "__off")
      val local = Window.partitionBy("__pid").orderBy("z")
        .rowsBetween(Window.unboundedPreceding, -1)
      ranked.join(broadcast(offsets), "__pid")
        .withColumn("below",
          col("__off") + coalesce(sum(col("nneg")).over(local), lit(0L)))
        .agg(sum(col("npos")).as("n_pos"), sum(col("nneg")).as("n_neg"),
          sum((col("npos").cast(D38) *
            (lit(2L) * col("below") + col("nneg")).cast(D38))).as("u2"))
        .select(col("n_pos"), col("n_neg"),
          (col("u2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")))
            .cast(D6).cast("double").as("auc"))
    }
  )

  /** pp8's composed curation plan over a caller-supplied near-dup DROP
    * set: dd18 substring-removal mask → anti-join the drop set → tx34
    * trained quality gate (z > corpus mean) → tx36 weighted sample of 64 →
    * tx7 range-decomposed shard packing, all one plan. The query passes
    * the exhaustive (provably-exact) SemDeDup drop set so the DuckDB twin
    * is exact; [[curationPipelineApprox]] passes the √n-cell approximate
    * set — the config that scales, gated by `pp8_curation_scale`. */
  private def curationPlan(s: SparkSession, dir: String,
      nearDups: => DataFrame): DataFrame = {
    val D6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val D28 = org.apache.spark.sql.types.DecimalType(28, 12)
    val docs = Tables.t(s, dir, "documents")
    // The near-dup leg (KMeans rounds + the CC fixpoint — a chain of
    // driver actions over the EMBEDDINGS) and the quality-gate trainer
    // (GD pins over the DOCUMENTS) are independent computations that used
    // to run strictly sequentially; constructing them on concurrent
    // driver threads lets each leg's stages back-fill the cores the other
    // leg's per-action tail leaves idle (guide §2.6 — the Scc pattern).
    // Values are unchanged: both legs are deterministic and share no
    // state (separate IterTrunc instances).
    val nearDupsF = graft.util.Async.future(nearDups)
    // 1) dd18: duplicated-substring removal → cleaned token count
    val cleaned = DedupQueries.dupSpanMask(docs).groupBy("doc_id")
      .agg(count(when(col("rm").isNull, 1)).as("n_tokens"))
    // 3) tx34: model-based quality gate — keep z > corpus mean (trainer
    // runs on THIS thread, concurrent with the near-dup future)
    val (w, feats) = logregTrain(s, dir)
    // 2) dd17: drop docs whose embedding is a non-representative near-dup
    // (docs without an embedding carry no semantic evidence, pass through)
    val surviving = cleaned.join(nearDupsF.join(), Seq("doc_id"), "left_anti")
    val scored = logregZ(feats.crossJoin(broadcast(w)))
    val zbar = scored.agg((sum(col("z").cast(D28)).cast("double") /
      count(lit(1))).as("zbar"))
    val quality = scored.crossJoin(broadcast(zbar))
      .filter(col("z") > col("zbar")).select("doc_id")
    val gated = surviving.join(quality, Seq("doc_id"), "left_semi")
    // 4) tx36: weighted sample without replacement, w = cleaned tokens
    val u = (graft.dedup.TextDedup.md5Int(col("doc_id").cast("string"))
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    val sampled = gated.filter(col("n_tokens") > 0)
      .withColumn("es_key",
        (log(u) / col("n_tokens")).cast(D6).cast("double"))
      .orderBy(col("es_key").desc, col("doc_id")).limit(64)
    // 5) tx7: pack the sample into 1000-token shards per lang
    packShards(sampled.join(docs.select("doc_id", "lang"), "doc_id"),
        rangeSize = 100L)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr("(cum - n_tokens) div 1000").as("shard"), col("es_key"))
      .orderBy("doc_id")
  }

  /** The curation pipeline at its SCALE config: the near-dup drop set
    * rides ann12's gated approximate path (√n cells, nprobe 2) instead of
    * the exhaustive oracle config — what `pp8_curation_scale` times at
    * sf0.1↔sf1 (DedupAnnSpec pins the approximate keep-set's disagreement
    * against the exhaustive one). */
  def curationPipelineApprox(s: SparkSession, dir: String): DataFrame =
    curationPlan(s, dir, DedupQueries.semdedupKeepApprox(s, dir)
      .filter(col("keep") === 0).select(col("vec_id").as("doc_id")))

  /** tx33/tx34's shared trainer: 3 full-batch GD iterations from w = 0 at
    * lr = 1 on lang='en' vs 4 surface features, per-term DECIMAL(28,12)
    * exact gradient sums (order-free), weights as a broadcast 1-row frame
    * pinned per round. Returns (weights, features).
    *
    * The feature table is truncated (materialized) ONCE: without the pin
    * every GD iteration — and the zbar/quality/test consumers after —
    * re-scanned documents and re-ran the three regexp_replace feature
    * extractions (5 full text passes per query). Bit-safe: features are
    * per-row values (partitioning-independent) and every consumer
    * aggregates them through exact-decimal order-free sums. The pinned
    * frame is 6 numeric columns per doc — far smaller than the text it
    * replaces re-reading; at cluster scale pass a cluster-visible
    * checkpoint dir or accept recompute-per-iteration (the old shape). */
  private def logregTrain(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val D28 = org.apache.spark.sql.types.DecimalType(28, 12)
    val len = length(col("text")).cast("double")
    val featsPlan = Tables.t(s, dir, "documents").select(col("doc_id"),
      when(col("lang") === "en", 1).otherwise(0).as("y"),
      (len / 1000.0).as("f1"),
      ((len - length(regexp_replace(col("text"), " ", "")).cast("double"))
        / len).as("f2"),
      ((len - length(regexp_replace(col("text"), "e", "")).cast("double"))
        / len).as("f3"),
      ((len - length(regexp_replace(col("text"), "[aeiou]", ""))
        .cast("double")) / len).as("f4"))
    val trunc = new graft.ops.IterTrunc(s, None, "logreg")
    val feats = trunc.pin(featsPlan)
    val train = feats.filter(col("doc_id") % 5 =!= 0)
    var w = s.range(1).select(lit(0.0).as("w0"), lit(0.0).as("w1"),
      lit(0.0).as("w2"), lit(0.0).as("w3"), lit(0.0).as("w4"))
    for (_ <- 1 to 3) {
      val scored = logregZ(train.crossJoin(broadcast(w)))
        .withColumn("err",
          lit(1.0) / (lit(1.0) + exp(-col("z"))) - col("y"))
      val grad = scored.agg(
        sum(col("err").cast(D28)).cast("double").as("g0"),
        sum((col("err") * col("f1")).cast(D28)).cast("double").as("g1"),
        sum((col("err") * col("f2")).cast(D28)).cast("double").as("g2"),
        sum((col("err") * col("f3")).cast(D28)).cast("double").as("g3"),
        sum((col("err") * col("f4")).cast(D28)).cast("double").as("g4"),
        count(lit(1)).as("n"))
      w = trunc.pin(w.crossJoin(broadcast(grad)).select(
        (col("w0") - lit(1.0) * (col("g0") / col("n"))).as("w0"),
        (col("w1") - lit(1.0) * (col("g1") / col("n"))).as("w1"),
        (col("w2") - lit(1.0) * (col("g2") / col("n"))).as("w2"),
        (col("w3") - lit(1.0) * (col("g3") / col("n"))).as("w3"),
        (col("w4") - lit(1.0) * (col("g4") / col("n"))).as("w4")))
    }
    (w, feats)
  }

  /** The model's decision value: one unrolled double dot product — the
    * identical evaluation-order expression the oracle's SQL uses. */
  private def logregZ(d: DataFrame): DataFrame =
    d.withColumn("z", col("w0") + col("w1") * col("f1") +
      col("w2") * col("f2") + col("w3") * col("f3") +
      col("w4") * col("f4"))

  /** Per-language running token sum (`cum`) WITHOUT a per-language window:
    * a `Window.partitionBy(lang)` running sum funnels each language through
    * ONE task, and a real corpus is ~half one language. Two-stage instead:
    *
    *  1. sub-partition by (lang, doc_id div rangeSize) and run the running
    *     sum within each sub-partition — bounded work per task;
    *  2. aggregate one token total per (lang, range) — a tiny frame (the
    *     per-lang window over IT is over #ranges rows, not documents) —
    *     take the exclusive running total as the range's offset, and
    *     broadcast-join it back.
    *
    * `cum = offset + local_cum` is identical to the single-window result.
    * Pick `rangeSize` so #langs × (id-span/rangeSize) stays broadcastable
    * (e.g. 10M ids/range → 10⁵ offset rows per 10¹² ids). Input must carry
    * `doc_id`, `lang`, `n_tokens`. */
  def packShards(df: DataFrame, rangeSize: Long): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val wLocal = W.partitionBy("lang", "__rg").orderBy("doc_id")
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val wOff = W.partitionBy("lang").orderBy("__rg")
      .rowsBetween(W.unboundedPreceding, -1)
    val local = df
      .withColumn("__rg", expr(s"doc_id div ${rangeSize}L"))
      .withColumn("__local_cum", sum(col("n_tokens")).over(wLocal))
    // groupBy(lang, __rg) reuses the window's hash partitioning — no extra
    // shuffle for the totals
    val offsets = local.groupBy("lang", "__rg")
      .agg(sum(col("n_tokens")).as("__rg_total"))
      .withColumn("__off", coalesce(sum(col("__rg_total")).over(wOff), lit(0L)))
      .select(col("lang").as("__olang"), col("__rg").as("__org"), col("__off"))
    // null-safe join keys: a NULL lang groups like any other window partition
    // and must survive the re-join (plain equality would drop those rows)
    local.join(broadcast(offsets),
        col("lang") <=> col("__olang") && col("__rg") <=> col("__org"))
      .withColumn("cum", col("__off") + col("__local_cum"))
      .drop("__olang", "__org", "__rg", "__local_cum", "__off")
  }

  /** langid score SQL fragment for one language (occurrences of markers in
    * the whitespace token list). */
  private def scoreSql(markers: Seq[String]): String =
    markers.map(m => s"len(list_filter(string_split(text,' '), t -> t = '$m'))")
      .mkString(" + ")

  private val langCase: String = {
    // same nested CASE as TextFunctions.langId: lang_i wins on >= max of later
    val scored = LangMarkers.map { case (l, ms) => (l, s"(${scoreSql(ms)})") }
    def pick(rest: Seq[(String, String)]): String = rest match {
      case (l, _) +: Nil => s"'$l'"
      case (l, sc) +: tail =>
        val maxTail = tail.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
        s"CASE WHEN $sc >= $maxTail THEN '$l' ELSE ${pick(tail)} END"
      case _ => "NULL"
    }
    pick(scored)
  }

  /** tx6 oracle transform, built from the SAME PiiPatterns list so pattern
    * order can't drift between engines (DuckDB needs the 'g' flag; Spark
    * replaces all matches by default). */
  private val piiScrubSql: String = {
    val injected = "text || ' contact user' || doc_id || '@example.com from 10.0.0.' || " +
      "(doc_id % 256) || ' call 555-123-4567 ssn 987-65-4321'"
    PiiPatterns.foldLeft(injected) { case (acc, (p, tag)) =>
      s"regexp_replace($acc, '$p', '$tag', 'g')"
    }
  }

  /** tx33's oracle: the same three gradient-descent iterations unrolled as
    * SQL CTEs — generated by the same loop structure as the engine side so
    * both replay the identical IEEE sequence (exact DECIMAL(28,12) term
    * sums make each gradient order-free; everything else is scalar double
    * algebra in matching evaluation order). */
  private val logregZSql = "w0 + w1*f1 + w2*f2 + w3*f3 + w4*f4"

  /** The shared trainer CTE chain (features, split, three unrolled GD
    * iterations) — tx33 appends the held-out accuracy, tx34 the full-corpus
    * scoring select. */
  private def logregOraclePrefix: String = {
    val ft = (j: Int, pat: String, re: Boolean) => {
      val stripped =
        if (re) s"regexp_replace(text, '$pat', '', 'g')"
        else s"replace(text, '$pat', '')"
      s"(CAST(length(text) AS DOUBLE) - CAST(length($stripped) AS DOUBLE)) " +
        s"/ CAST(length(text) AS DOUBLE) AS f$j"
    }
    val base =
      "WITH f AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, " +
        "CAST(length(text) AS DOUBLE) / 1000.0 AS f1, " +
        ft(2, " ", false) + ", " + ft(3, "e", false) + ", " +
        ft(4, "[aeiou]", true) + " FROM documents), " +
        "tr AS (SELECT * FROM f WHERE doc_id % 5 <> 0), " +
        "te AS (SELECT * FROM f WHERE doc_id % 5 = 0), " +
        "w0t AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1, " +
        "CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3, CAST(0.0 AS DOUBLE) AS w4)"
    val iters = (1 to 3).map { k =>
      val gterm = (j: Int, x: String) =>
        s"CAST(sum(CAST($x AS DECIMAL(28,12))) AS DOUBLE) AS g$j"
      s"g${k}t AS (SELECT ${gterm(0, "err")}, ${gterm(1, "err * f1")}, " +
        s"${gterm(2, "err * f2")}, ${gterm(3, "err * f3")}, " +
        s"${gterm(4, "err * f4")}, count(*) AS n " +
        s"FROM (SELECT tr.*, 1.0 / (1.0 + exp(-($logregZSql))) - y AS err " +
        s"FROM tr, w${k - 1}t)), " +
        s"w${k}t AS (SELECT " +
        (0 to 4).map(j => s"w$j - 1.0 * (g$j / n) AS w$j").mkString(", ") +
        s" FROM w${k - 1}t, g${k}t)"
    }.mkString(", ")
    s"$base, $iters"
  }

  private def tx33OracleSql: String = {
    val acc =
      "acct AS (SELECT count(*) AS n_test, " +
        "CAST(sum(CASE WHEN (z > 0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct " +
        s"FROM (SELECT te.y, $logregZSql AS z FROM te, w3t))"
    val outW = (0 to 4)
      .map(j => s"CAST(CAST(w$j AS DECIMAL(18,6)) AS DOUBLE) AS w$j")
      .mkString(", ")
    s"$logregOraclePrefix, $acc SELECT $outW, n_test, n_correct, " +
      "CAST(CAST(CAST(n_correct AS DOUBLE) / n_test AS DECIMAL(18,6)) AS DOUBLE) AS accuracy " +
      "FROM w3t, acct"
  }

  private def tx34OracleSql: String =
    s"$logregOraclePrefix, " +
      s"scz AS MATERIALIZED (SELECT f.doc_id, f.y, $logregZSql AS z FROM f, w3t), " +
      "zb AS (SELECT CAST(sum(CAST(z AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS zbar FROM scz) " +
      "SELECT doc_id, y AS actual_en, " +
      "CAST(CAST(z AS DECIMAL(18,6)) AS DOUBLE) AS score FROM scz, zb " +
      "WHERE z > zbar AND doc_id < 200 ORDER BY doc_id"

  /** tx35's oracle: the trainer chain, then the Mann-Whitney rank sum as a
    * plain window replay over the per-distinct-score tallies — the engine's
    * decomposed cumsum must equal this single-window formulation exactly
    * (both are integer arithmetic until the one final division). */
  private def tx35OracleSql: String =
    s"$logregOraclePrefix, " +
      s"scz AS MATERIALIZED (SELECT te.y, $logregZSql AS z FROM te, w3t), " +
      "g AS (SELECT z, CAST(sum(y) AS BIGINT) AS npos, " +
      "CAST(sum(1 - y) AS BIGINT) AS nneg FROM scz GROUP BY z), " +
      "c AS (SELECT npos, nneg, coalesce(sum(nneg) OVER (ORDER BY z " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM g) " +
      "SELECT CAST(sum(npos) AS BIGINT) AS n_pos, " +
      "CAST(sum(nneg) AS BIGINT) AS n_neg, " +
      "CAST(CAST(CAST(sum(npos * (2 * below + nneg)) AS DOUBLE) / " +
      "(2.0 * sum(npos) * sum(nneg)) AS DECIMAL(18,6)) AS DOUBLE) AS auc " +
      "FROM c"

  val oracle: Map[String, String] = Map(
    "tx33_logreg_quality" -> tx33OracleSql,
    "tx34_model_filter" -> tx34OracleSql,
    "tx35_logreg_auc" -> tx35OracleSql,
    // same integer rank formulation as the engine — no quantile function,
    // so no cross-engine interpolation on the comparison boundary
    "tx14_group_percentile_gate" ->
      ("WITH vc AS (SELECT lang, n_chars AS v, count(*) AS c FROM documents GROUP BY lang, n_chars), " +
        "cum AS (SELECT lang, v, sum(c) OVER (PARTITION BY lang ORDER BY v ROWS UNBOUNDED PRECEDING) AS cc FROM vc), " +
        "tot AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang), " +
        "cut AS (SELECT cum.lang, min(v) AS thr FROM cum JOIN tot ON cum.lang = tot.lang " +
        "WHERE cc * 10 >= 8 * n GROUP BY cum.lang) " +
        "SELECT d.doc_id, d.lang, d.n_chars FROM documents d " +
        "JOIN cut ON d.lang = cut.lang WHERE d.n_chars > cut.thr " +
        "ORDER BY d.doc_id"),
    "pp2_curriculum" -> {
      "WITH vc AS (SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY n_chars), " +
        "cum AS (SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cc FROM vc), " +
        "tot AS (SELECT count(*) AS n FROM documents), " +
        "cut AS (SELECT i, min(v) AS cv FROM cum, tot, unnest(generate_series(1, 9)) AS g(i) " +
        "WHERE cc * 10 >= i * n GROUP BY i), " +
        "d AS (SELECT doc_id, lang, text, n_chars, " +
        "1 + (SELECT count(*) FROM cut WHERE n_chars > cv) AS decile FROM documents), " +
        "kept AS (SELECT doc_id, lang, decile, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens " +
        "FROM d WHERE decile >= 5) " +
        "SELECT doc_id, lang, CAST(decile AS BIGINT) AS decile, " +
        "CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) " +
        "- n_tokens) // 1000 AS BIGINT) AS shard FROM kept ORDER BY doc_id"
    },
    // full-domain aggregation formulation — identical result, shuffles the
    // whole vocabulary (the engine shuffles only MG candidates)
    "hh1_heavy_hitters" ->
      ("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents), " +
        "tot AS (SELECT count(*) AS n FROM tok), " +
        "cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token) " +
        "SELECT token, CAST(c AS BIGINT) AS freq FROM cnt, tot " +
        "WHERE c * 200 > n ORDER BY token"),
    "tx13_dup_span_ratio" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "win AS (SELECT doc_id, array_to_string(toks[i+1:i+10], ' ') AS g " +
        "FROM tok, unnest(generate_series(0, len(toks)-10)) AS t(i) WHERE len(toks) >= 10), " +
        "df AS (SELECT g, count(DISTINCT doc_id) AS docs FROM win GROUP BY g) " +
        "SELECT w.doc_id, count(*) AS n_windows, " +
        "CAST(sum(CASE WHEN df.docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup, " +
        "CAST(sum(CASE WHEN df.docs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_ratio " +
        "FROM win w JOIN df ON w.g = df.g GROUP BY w.doc_id ORDER BY doc_id"),
    // same stage order: tx2's quality arithmetic (identical expression
    // tree), dd1's fingerprint, tx10's md5 sampler — composed verbatim so
    // nothing can drift from the single-stage oracles
    "pp1_preprocess" -> {
      val stop = scoreSql(LangMarkers.head._2)
      "WITH base AS (SELECT doc_id, source, text, " +
        "CAST(len(string_split(text,' ')) AS DOUBLE) AS nTok, " +
        "CAST(length(text) AS DOUBLE) AS nChar FROM documents), " +
        s"q AS (SELECT doc_id, source, text, $langCase AS pred_lang, " +
        s"(CAST(($stop) AS DOUBLE) / nTok) * 0.25 " +
        "+ least(((nChar - (nTok - 1.0)) / nTok) / 10.0, 1.0) * 0.25 " +
        "+ least(nTok / 100.0, 1.0) * 0.5 AS quality FROM base), " +
        "f AS (SELECT * FROM q WHERE quality >= 0.4), " +
        "d AS (SELECT doc_id, pred_lang, quality, source FROM f " +
        "QUALIFY row_number() OVER (PARTITION BY " +
        "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) " +
        "ORDER BY doc_id) = 1) " +
        "SELECT doc_id, pred_lang, quality, source FROM d " +
        s"WHERE (${DedupQueries.md5IntSql("CAST(doc_id AS VARCHAR)")}) % 100 < " +
        "CASE source WHEN 'src0' THEN 10 WHEN 'src1' THEN 50 " +
        "WHEN 'src2' THEN 90 ELSE 30 END ORDER BY doc_id"
    },
    "tx6_pii_scrub" ->
      s"SELECT doc_id, $piiScrubSql AS clean FROM documents ORDER BY doc_id",
    "tx7_shard_packing" ->
      ("SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST((sum(CAST(len(string_split(text, ' ')) AS BIGINT)) " +
        "OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) " +
        "- len(string_split(text, ' '))) // 1000 AS BIGINT) AS shard " +
        "FROM documents ORDER BY doc_id"),
    "tx12_freq_score" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
        "vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token), " +
        "tot AS (SELECT sum(cnt) AS n_total FROM vocab), " +
        "agg AS (SELECT doc_id, count(*) AS n_tokens, sum(cnt) AS freq_sum " +
        "FROM tok JOIN vocab USING (token) GROUP BY doc_id) " +
        "SELECT doc_id, n_tokens, " +
        "CAST(freq_sum AS DOUBLE) / n_tokens / CAST(n_total AS DOUBLE) AS mean_freq " +
        "FROM agg, tot ORDER BY doc_id"),
    "tx11_chunking" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "c AS (SELECT doc_id, toks, unnest(generate_series(0, " +
        "CAST(floor((len(toks) - 1) / 48.0) AS BIGINT))) AS i FROM t) " +
        "SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx, " +
        "CAST(len(toks[(i*48+1):(i*48+64)]) AS INTEGER) AS n_tokens, " +
        "array_to_string(toks[(i*48+1):(i*48+64)], ' ') AS chunk " +
        "FROM c ORDER BY doc_id, chunk_idx"),
    "tx8_top_tokens" ->
      ("SELECT token, count(*) AS n FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS token FROM documents) " +
        "GROUP BY token ORDER BY n DESC, token LIMIT 100"),
    // every arithmetic input forced to DOUBLE before the math so DuckDB's
    // DECIMAL literal arithmetic can't diverge from Spark's double path;
    // the final DECIMAL(18,6) round matches the engine side
    // same capped vocab: top-20 src0 tokens by (count DESC, token)
    "tx28_vocab_coverage" ->
      ("WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "v AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM tok " +
        "WHERE source = 'src0' GROUP BY tok ORDER BY n DESC, tok LIMIT 20)), " +
        "j AS (SELECT t.source, t.tok, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov " +
        "FROM tok t LEFT JOIN v ON t.tok = v.tok) " +
        "SELECT source, count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov, " +
        "count(DISTINCT tok) AS n_types, " +
        "count(DISTINCT CASE WHEN oov = 1 THEN tok END) AS n_oov_types, " +
        "CAST(CAST(CAST(sum(oov) AS DOUBLE) / count(*) AS DECIMAL(18,6)) AS DOUBLE) AS oov_rate " +
        "FROM j GROUP BY source ORDER BY source"),
    "tx27_padding_waste" ->
      ("WITH d AS (SELECT doc_id, least(CAST(len(string_split(text, ' ')) AS BIGINT), 128) AS len " +
        "FROM documents), " +
        "b AS (SELECT doc_id // 8 AS batch_id, count(*) AS n_docs, " +
        "max(len) AS max_len, CAST(sum(len) AS BIGINT) AS total_tokens " +
        "FROM d GROUP BY 1) " +
        "SELECT batch_id, n_docs, max_len, total_tokens, " +
        "n_docs * max_len - total_tokens AS waste, " +
        "CAST(n_docs * max_len - total_tokens AS DOUBLE) / (n_docs * max_len) AS waste_ratio " +
        "FROM b ORDER BY batch_id"),
    // same rounded-score rank: CAST to DECIMAL(18,6) BEFORE the window
    // order so real-arithmetic score ties break on the token string
    "tx26_tfidf_keywords" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
        "n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token), " +
        "df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token), " +
        "sc AS (SELECT doc_id, token, " +
        "CAST(CAST(tf * ln(CAST(n_docs AS DOUBLE) / df) AS DECIMAL(18,6)) AS DOUBLE) AS score " +
        "FROM tf JOIN df USING (token) CROSS JOIN n) " +
        "SELECT doc_id, token, score, CAST(rank AS INT) AS rank FROM (" +
        "SELECT doc_id, token, score, row_number() OVER (" +
        "PARTITION BY doc_id ORDER BY score DESC, token) AS rank FROM sc) " +
        "WHERE rank <= 3 ORDER BY doc_id, rank"),
    // the ONE scoring fragment (SearchQueries.bm25Sql), rounded here
    "tx15_bm25" ->
      ("WITH " + SearchQueries.bm25Sql + " " +
        "SELECT doc_id, CAST(CAST(bm25_raw AS DECIMAL(18,6)) AS DOUBLE) AS bm25 " +
        "FROM scores ORDER BY doc_id"),
    "tx16_train_split" ->
      ("SELECT doc_id, source, " + DedupQueries.splitSql + " AS split " +
        "FROM documents ORDER BY doc_id"),
    "tx18_ngram_novelty" ->
      ("WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents), " +
        s"g AS (SELECT doc_id, source, ${DedupQueries.shinglesSql} AS gs FROM t), " +
        "ref AS (SELECT DISTINCT unnest(gs) AS rg FROM g WHERE source = 'src0'), " +
        "dg AS (SELECT doc_id, unnest(gs) AS dgr FROM g WHERE source <> 'src0') " +
        "SELECT doc_id, CAST(sum(CASE WHEN rg IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty " +
        "FROM dg LEFT JOIN ref ON dgr = rg GROUP BY doc_id ORDER BY doc_id"),
    // (?s) so '.' also matches newlines: the Spark side counts EVERY char
    // (split(text, "")), so the oracle must too — without DOTALL a future
    // multi-line corpus would silently diverge instead of hash-failing
    "tx17_char_entropy" ->
      ("WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS c FROM documents), " +
        "cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2), " +
        "tot AS (SELECT doc_id, sum(k) AS len FROM cnt GROUP BY 1) " +
        "SELECT doc_id, CAST(CAST(-sum((CAST(k AS DOUBLE) / len) * ln(CAST(k AS DOUBLE) / len)) " +
        "AS DECIMAL(18,6)) AS DOUBLE) AS entropy " +
        "FROM cnt JOIN tot USING (doc_id) GROUP BY doc_id ORDER BY doc_id"),
    "tx9_repetition" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "g AS (SELECT doc_id, greatest(len(toks) - 1, 0) AS total, " +
        "len(list_distinct([array_to_string(toks[i+1:i+2], ' ') " +
        "FOR i IN generate_series(0, len(toks) - 2)])) AS uniq FROM t) " +
        "SELECT doc_id, CASE WHEN total = 0 THEN 0.0 " +
        "ELSE 1.0 - CAST(uniq AS DOUBLE) / CAST(total AS DOUBLE) END AS rep_ratio " +
        "FROM g ORDER BY doc_id"),
    "tx1_langid" ->
      s"SELECT doc_id, $langCase AS pred_lang FROM documents ORDER BY doc_id",
    // the same langCase scored against the labels (one fragment, tx1's)
    "tx31_langid_eval" ->
      (s"WITH p AS (SELECT lang, $langCase AS pred_lang FROM documents), " +
        "c AS (SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2), " +
        "t AS (SELECT lang, count(*) AS total FROM p GROUP BY 1) " +
        "SELECT c.lang AS lang, pred_lang, n, " +
        "CAST(CAST(CAST(n AS DOUBLE) / total AS DECIMAL(18,6)) AS DOUBLE) AS frac " +
        "FROM c JOIN t ON c.lang = t.lang ORDER BY lang, pred_lang"),
    "tx2_quality" -> {
      val stop = scoreSql(LangMarkers.head._2)
      // mirror TextFunctions.qualityScore arithmetic order exactly
      "SELECT doc_id, " +
        s"(CAST(($stop) AS DOUBLE) / nTok) * 0.25 " +
        "+ least(((nChar - (nTok - 1.0)) / nTok) / 10.0, 1.0) * 0.25 " +
        "+ least(nTok / 100.0, 1.0) * 0.5 AS quality FROM " +
        "(SELECT doc_id, text, " +
        "CAST(len(string_split(text,' ')) AS DOUBLE) AS nTok, " +
        "CAST(length(text) AS DOUBLE) AS nChar FROM documents) " +
        "ORDER BY doc_id"
    },
    "tx3_token_counts" ->
      ("SELECT doc_id, len(string_split(text,' ')) AS n_ws_tokens, " +
        s"len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_bpe_units " +
        "FROM documents ORDER BY doc_id"),
    "tx4_fingerprint" ->
      ("SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp " +
        "FROM documents ORDER BY doc_id"),
    "tx5_tokenized_fields" ->
      ("SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens, " +
        "array_to_string(string_split(text, ' ')[1:5], ' ') AS head_tokens " +
        "FROM documents ORDER BY doc_id"),
    // pp3 chains the tx19/tx20/dd1/tx18/tx16 oracle mechanisms verbatim
    "pp3_full_pipeline" ->
      ("WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), "
        + "segs AS (SELECT doc_id, g.i AS pos, array_to_string(toks[3*g.i+1:3*g.i+3],' ') AS seg "
        + "FROM t, unnest(generate_series(0, (len(toks)-1)//3)) AS g(i)), "
        + "cnt AS (SELECT seg, count(*) AS n FROM segs GROUP BY 1), "
        + "re AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS cleaned "
        + "FROM segs JOIN cnt USING (seg) WHERE n < 3 GROUP BY doc_id), "
        + "base AS (SELECT d.doc_id, d.source, r.cleaned FROM documents d JOIN re r USING (doc_id) "
        + "WHERE r.cleaned <> ''), "
        + "w AS (SELECT doc_id, count(*) AS n_toks, "
        + "sum(CASE WHEN tok IN ('the','a') THEN 1 ELSE 0 END) AS n_stop "
        + "FROM (SELECT doc_id, unnest(string_split(cleaned,' ')) AS tok FROM base) GROUP BY 1), "
        + "gated AS (SELECT b.* FROM base b JOIN w USING (doc_id) "
        + "WHERE w.n_toks >= 5 AND CAST(w.n_stop AS DOUBLE)/w.n_toks >= 0.02), "
        + "kept AS (SELECT * FROM (SELECT g.*, row_number() OVER (PARTITION BY md5(cleaned) ORDER BY doc_id) AS rn FROM gated g) WHERE rn = 1), "
        // the canonical shingle definition (DedupQueries.shinglesSql — the
        // same fragment tx18 and the dd oracles use) applied to the src0
        // reference set and the cleaned survivors
        + s"refg AS (SELECT DISTINCT unnest(${DedupQueries.shinglesSql}) AS rg "
        + "FROM t JOIN documents d USING (doc_id) WHERE d.source = 'src0'), "
        + s"dg AS (SELECT doc_id, unnest(${DedupQueries.shinglesSql}) AS g "
        + "FROM (SELECT doc_id, string_split(cleaned, ' ') AS toks FROM kept)), "
        + "nov AS (SELECT doc_id, CAST(sum(CASE WHEN rg IS NULL THEN 1 ELSE 0 END) AS DOUBLE)/count(*) AS novelty "
        + "FROM dg LEFT JOIN refg ON dg.g = refg.rg GROUP BY 1) "
        + "SELECT k.doc_id, k.source, CAST(len(string_split(k.cleaned,' ')) AS BIGINT) AS n_toks, "
        // canonical split hash (DedupQueries.md5IntSql — tx16's fragment)
        + s"CASE WHEN ${DedupQueries.md5IntSql("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train' "
        + s"WHEN ${DedupQueries.md5IntSql("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val' ELSE 'test' END AS split "
        + "FROM kept k JOIN nov USING (doc_id) "
        + "WHERE k.source <> 'src0' AND nov.novelty >= 0.3 ORDER BY doc_id"),
    // pp8 chains the dd18/dd17/tx34/tx36/tx7 oracle fragments verbatim:
    // the logreg trainer prefix (promoted to WITH RECURSIVE for the CC
    // closure), the dupMaskSql CTEs, the semdedupKeepCte, then the four
    // pipeline stages as thin CTEs over those shared tables
    "pp8_curation_pipeline" ->
      (logregOraclePrefix.replaceFirst("^WITH ", "WITH RECURSIVE ") + ", " +
        DedupQueries.dupMaskSql + ", " +
        DedupQueries.semdedupKeepCte + ", " +
        "cl AS (SELECT doc_id, CAST(count(*) FILTER (WHERE rm IS NULL) AS BIGINT) AS n_tokens " +
        "FROM m GROUP BY doc_id), " +
        "surv AS (SELECT cl.* FROM cl ANTI JOIN " +
        "(SELECT vec_id FROM sd WHERE keep = 0) nd ON cl.doc_id = nd.vec_id), " +
        s"scz AS MATERIALIZED (SELECT f.doc_id, $logregZSql AS z FROM f, w3t), " +
        "zb AS (SELECT CAST(sum(CAST(z AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS zbar FROM scz), " +
        "gated AS (SELECT surv.* FROM surv SEMI JOIN " +
        "(SELECT doc_id FROM scz, zb WHERE z > zbar) q ON surv.doc_id = q.doc_id), " +
        "samp AS (SELECT doc_id, n_tokens, es_key FROM (" +
        "SELECT doc_id, n_tokens, CAST(CAST(ln((CAST((" +
        DedupQueries.md5IntSql("CAST(doc_id AS VARCHAR)") +
        ") AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(4294967296 AS DOUBLE)) " +
        "/ n_tokens AS DECIMAL(18,6)) AS DOUBLE) AS es_key " +
        "FROM gated WHERE n_tokens > 0) ORDER BY es_key DESC, doc_id LIMIT 64) " +
        "SELECT s.doc_id AS doc_id, dc.lang AS lang, s.n_tokens AS n_tokens, " +
        "CAST((sum(s.n_tokens) OVER (PARTITION BY dc.lang ORDER BY s.doc_id " +
        "ROWS UNBOUNDED PRECEDING) - s.n_tokens) // 1000 AS BIGINT) AS shard, " +
        "es_key FROM samp s JOIN documents dc USING (doc_id) ORDER BY doc_id"),
    "tx19_segment_dedup" ->
      ("WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
        "segs AS (SELECT doc_id, g.i AS pos, array_to_string(toks[3*g.i+1:3*g.i+3],' ') AS seg " +
        "FROM t, unnest(generate_series(0, (len(toks)-1)//3)) AS g(i)), " +
        "cnt AS (SELECT seg, count(*) AS n FROM segs GROUP BY 1), " +
        "re AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS cleaned " +
        "FROM segs JOIN cnt USING (seg) WHERE n < 3 GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(r.cleaned, '') AS cleaned " +
        "FROM documents d LEFT JOIN re r USING (doc_id) ORDER BY doc_id"),
    "tx20_gopher_rules" ->
      ("WITH t AS (SELECT doc_id, text, string_split(text,' ') AS toks FROM documents), " +
        "w AS (SELECT doc_id, count(*) AS n_toks, sum(length(tok)) AS tok_chars, " +
        "sum(CASE WHEN tok IN ('the','a') THEN 1 ELSE 0 END) AS n_stop " +
        "FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1), " +
        "segs AS (SELECT doc_id, array_to_string(toks[3*g.i+1:3*g.i+3],' ') AS seg " +
        "FROM t, unnest(generate_series(0, (len(toks)-1)//3)) AS g(i)), " +
        "sg AS (SELECT doc_id, count(*) AS n_segs, count(DISTINCT seg) AS n_dist FROM segs GROUP BY 1), " +
        "bgc AS (SELECT doc_id, gram, count(*) AS c FROM " +
        "(SELECT doc_id, array_to_string(toks[g.i+1:g.i+2],' ') AS gram " +
        "FROM t, unnest(generate_series(0, len(toks)-2)) AS g(i)) GROUP BY 1,2), " +
        "bgm AS (SELECT doc_id, max(c * length(gram)) AS top_chars FROM bgc GROUP BY 1) " +
        "SELECT t.doc_id, CAST(w.tok_chars AS DOUBLE)/w.n_toks AS mean_word_len, " +
        "CAST(w.n_stop AS DOUBLE)/w.n_toks AS stop_frac, " +
        "1.0 - CAST(sg.n_dist AS DOUBLE)/sg.n_segs AS dup_seg_frac, " +
        "CAST(bgm.top_chars AS DOUBLE)/length(t.text) AS top_bigram_frac, " +
        "CAST(CAST(w.tok_chars AS DOUBLE)/w.n_toks >= 3 AND CAST(w.tok_chars AS DOUBLE)/w.n_toks <= 10 " +
        "AND CAST(w.n_stop AS DOUBLE)/w.n_toks >= 0.03 " +
        "AND 1.0 - CAST(sg.n_dist AS DOUBLE)/sg.n_segs <= 0.02 " +
        "AND CAST(bgm.top_chars AS DOUBLE)/length(t.text) <= 0.12 AS INT) AS passes " +
        "FROM t JOIN w USING (doc_id) JOIN sg USING (doc_id) JOIN bgm USING (doc_id) " +
        "ORDER BY doc_id"),
    "tx21_nb_classifier" ->
      ("WITH lab AS (SELECT doc_id, string_split(text,' ') AS toks, " +
        "CASE WHEN source IN ('src1','src3','src5') THEN 1 " +
        "WHEN source IN ('src2','src4','src6') THEN 0 END AS y FROM documents), " +
        "ltok AS (SELECT doc_id, y, unnest(toks) AS tok FROM lab WHERE y IS NOT NULL), " +
        "vocab AS (SELECT tok, sum(y) AS pos_cnt, sum(1-y) AS neg_cnt FROM ltok GROUP BY 1), " +
        "tot AS (SELECT sum(pos_cnt) AS pos_tot, sum(neg_cnt) AS neg_tot, count(*) AS v FROM vocab), " +
        "prior AS (SELECT CAST(ln(CAST(sum(CASE WHEN y=1 THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "sum(CASE WHEN y=0 THEN 1 ELSE 0 END)) AS DECIMAL(18,8)) AS p " +
        "FROM lab WHERE y IS NOT NULL), " +
        "alltok AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents), " +
        "scored AS (SELECT a.doc_id, sum(CAST(" +
        "ln((coalesce(vb.pos_cnt,0)+1.0)/(tot.pos_tot+tot.v)) - " +
        "ln((coalesce(vb.neg_cnt,0)+1.0)/(tot.neg_tot+tot.v)) AS DECIMAL(18,8))) AS s " +
        "FROM alltok a LEFT JOIN vocab vb ON a.tok = vb.tok, tot GROUP BY 1) " +
        "SELECT s.doc_id, CAST(s.s + p.p AS DOUBLE) AS nb_score, " +
        "CAST(s.s + p.p > 0 AS INT) AS pred_pos " +
        "FROM scored s, prior p ORDER BY doc_id"),
    "tx22_unicode_normalize" ->
      ("WITH inj AS (SELECT doc_id, CASE WHEN doc_id % 2 = 1 " +
        "THEN replace(text, 'e', 'e' || chr(769)) ELSE text END AS itext FROM documents) " +
        "SELECT doc_id, nfc_normalize(itext) AS nfc, strip_accents(itext) AS stripped, " +
        "length(itext) AS n_raw, length(nfc_normalize(itext)) AS n_nfc " +
        "FROM inj ORDER BY doc_id"),
    // tx23 is a verdict query: both audit columns must be literally 1 for
    // every document — roundtrip identity and at-least-one-merge-applied
    "tx23_bpe_roundtrip" ->
      "SELECT doc_id, 1 AS roundtrip_ok, 1 AS did_compress FROM documents ORDER BY doc_id",
    "tx24_html_extract" ->
      ("WITH h AS (SELECT doc_id, '<html><nav>site menu doc ' || doc_id || " +
        "'</nav><div class=\"main\"><p>' || replace(text, ' the ', ' the<br> ') || " +
        "'</p></div><footer>(c) ' || source || '</footer></html>' AS html FROM documents), " +
        "x AS (SELECT doc_id, html, regexp_replace(regexp_replace(html, " +
        "'(?s)<nav>.*?</nav>', '', 'g'), '(?s)<footer>.*?</footer>', '', 'g') AS stripped FROM h), " +
        "t AS (SELECT doc_id, html, trim(regexp_replace(stripped, '<[^>]*>', ' ', 'g')) AS flat FROM x) " +
        "SELECT doc_id, regexp_replace(flat, ' +', ' ', 'g') AS content, " +
        "CAST(length(regexp_replace(flat, ' +', ' ', 'g')) AS DOUBLE) / length(html) AS text_ratio " +
        "FROM t ORDER BY doc_id"),
    // integer-exact ratio inside ln, same left-assoc double products; one
    // DECIMAL(18,6) round absorbs ln's cross-libm ulp
    "tx29_pmi_collocations" ->
      ("WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents), " +
        "uni AS (SELECT t AS w, count(*) AS c FROM " +
        "(SELECT unnest(toks) AS t FROM d) GROUP BY t), " +
        "tot AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS n_tok, " +
        "CAST(sum(len(toks) - 1) AS BIGINT) AS n_big FROM d), " +
        "p AS (SELECT row_number() OVER () AS rid, toks FROM d), " +
        "u AS (SELECT rid, unnest(toks) AS w, generate_subscripts(toks, 1) AS i FROM p), " +
        "bg AS (SELECT a.w AS w1, b.w AS w2 FROM u a JOIN u b " +
        "ON a.rid = b.rid AND b.i = a.i + 1), " +
        "bc AS (SELECT w1, w2, count(*) AS n_xy FROM bg " +
        "GROUP BY 1, 2 HAVING count(*) >= 5) " +
        "SELECT w1, w2, n_xy, CAST(CAST(ln(" +
        "(CAST(n_xy AS DOUBLE) * n_tok * n_tok) / " +
        "(CAST(n_big AS DOUBLE) * c1 * c2)) AS DECIMAL(18,6)) AS DOUBLE) AS pmi " +
        "FROM bc " +
        "JOIN (SELECT w AS w1, c AS c1 FROM uni) u1 USING (w1) " +
        "JOIN (SELECT w AS w2, c AS c2 FROM uni) u2 USING (w2) " +
        "CROSS JOIN tot ORDER BY w1, w2"),
    // same bigram construction as tx29's oracle (rid/subscripts join),
    // same (count, successor) struct-max winner pick, 5 unrolled steps
    "tx32_greedy_generate" ->
      ("WITH d AS (SELECT string_split(text, ' ') AS ts FROM documents), " +
        "u AS (SELECT t AS w, count(*) AS c FROM " +
        "(SELECT unnest(ts) AS t FROM d) GROUP BY 1), " +
        "seeds AS (SELECT w AS seed FROM u ORDER BY c DESC, w LIMIT 3), " +
        "p AS (SELECT row_number() OVER () AS rid, ts FROM d), " +
        "un AS (SELECT rid, unnest(ts) AS w, generate_subscripts(ts, 1) AS i FROM p), " +
        "bg AS (SELECT a.w AS w1, b.w AS w2, count(*) AS c FROM un a " +
        "JOIN un b ON a.rid = b.rid AND b.i = a.i + 1 GROUP BY 1, 2), " +
        "n0 AS (SELECT w1, max(struct_pack(c := c, w2 := w2)) AS m FROM bg GROUP BY w1), " +
        "nx AS (SELECT w1, m.w2 AS nx FROM n0), " +
        "s1 AS (SELECT seed, nx AS tok FROM seeds JOIN nx ON seed = w1), " +
        "s2 AS (SELECT seed, nx.nx AS tok FROM s1 JOIN nx ON s1.tok = nx.w1), " +
        "s3 AS (SELECT seed, nx.nx AS tok FROM s2 JOIN nx ON s2.tok = nx.w1), " +
        "s4 AS (SELECT seed, nx.nx AS tok FROM s3 JOIN nx ON s3.tok = nx.w1), " +
        "s5 AS (SELECT seed, nx.nx AS tok FROM s4 JOIN nx ON s4.tok = nx.w1) " +
        "SELECT seed, 1 AS step, tok FROM s1 " +
        "UNION ALL SELECT seed, 2, tok FROM s2 " +
        "UNION ALL SELECT seed, 3, tok FROM s3 " +
        "UNION ALL SELECT seed, 4, tok FROM s4 " +
        "UNION ALL SELECT seed, 5, tok FROM s5 " +
        "ORDER BY seed, step"),
    // same rank tie-break (cnt DESC, token), same per-term DECIMAL(28,12)
    // moment sums, same closed-form double algebra
    "tx30_zipf" ->
      ("WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents), " +
        "c AS (SELECT source, token, count(*) AS cnt FROM tok GROUP BY 1, 2), " +
        "r AS (SELECT source, cnt, row_number() OVER " +
        "(PARTITION BY source ORDER BY cnt DESC, token) AS rank FROM c), " +
        "xy AS (SELECT source, ln(rank) AS x, ln(cnt) AS y FROM r WHERE rank <= 100), " +
        "a AS (SELECT source, CAST(count(*) AS DOUBLE) AS np, " +
        "CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx, " +
        "CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy, " +
        "CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx, " +
        "CAST(sum(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy " +
        "FROM xy GROUP BY source), " +
        "sl AS (SELECT source, np, sx, sy, " +
        "(np * sxy - sx * sy) / (np * sxx - sx * sx) AS slope FROM a " +
        "WHERE np * sxx - sx * sx > 0) " +
        "SELECT source, CAST(np AS BIGINT) AS n_terms, " +
        "CAST(CAST(slope AS DECIMAL(18,6)) AS DOUBLE) AS zipf_slope, " +
        "CAST(CAST((sy - slope * sx) / np AS DECIMAL(18,6)) AS DOUBLE) AS intercept " +
        "FROM sl ORDER BY source")
  )
}
