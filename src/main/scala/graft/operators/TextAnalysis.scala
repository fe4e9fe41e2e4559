package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.{Sinks, Tables}

/** Text-analysis operators over the documents corpus: language ID,
  * quality scoring, token counting, fingerprinting. All narrow,
  * codegen'd projections (the only shuffle is t04's dup-rank window,
  * partitioned by fingerprint — bounded groups).
  */
object TextAnalysis {

  // ─── t01 language ID (n-gram/stopword heuristic) ─────────────────────
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val lowered = lower(col("text"))
    val hits = langMarkers.map { case (l, p) => patternCount(lowered, p).as(s"${l}_hits") }
    val zh = patternCount(col("text"), cjkPattern).as("zh_hits")
    d.select((col("doc_id") +: col("lang") +: hits) :+ zh: _*)
      .withColumn("predicted_lang",
        when(col("zh_hits") > 0, "zh")
          .when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("fr_hits") &&
            col("en_hits") >= col("es_hits") && col("en_hits") > 0, "en")
          .when(col("de_hits") >= col("fr_hits") && col("de_hits") >= col("es_hits") &&
            col("de_hits") > 0, "de")
          .when(col("fr_hits") >= col("es_hits") && col("fr_hits") > 0, "fr")
          .when(col("es_hits") > 0, "es")
          .otherwise("unknown"))
      .withColumn("is_correct", col("predicted_lang") === col("lang"))
  }

  // ─── t02 document quality scoring ────────────────────────────────────
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    scoredDocs(spark, dir).drop("lang")

  /** t02's scoring frame with the language carried — shared by t02, the
    * t07 per-language prune, and d15's quality-aware survivorship so all
    * consumers see bit-identical scores.
    */
  private[operators] def scoredDocs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"), col("lang"), col("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", wsTokenCount(col("text")))
      .withColumn("punct_count", patternCount(col("text"), "[^A-Za-z0-9\\s]"))
      .withColumn("digit_count", patternCount(col("text"), "[0-9]"))
      .withColumn("stopword_count", patternCount(lower(col("text")), langMarkers.head._2))
      .select(
        // ratios stay RAW doubles: integer/integer divisions are exact and
        // bit-identical cross-engine; rounding them creates dyadic decimal
        // midpoints (1/32 = .03125) where rounding modes disagree
        col("doc_id"), col("lang"), col("n_chars"), col("n_tokens"),
        (col("n_chars").cast("double") /
          when(col("n_tokens") === 0, lit(null)).otherwise(col("n_tokens")))
          .as("avg_token_len"),
        (col("punct_count").cast("double") /
          when(col("n_chars") === 0, lit(null)).otherwise(col("n_chars")))
          .as("punct_ratio"),
        (col("digit_count").cast("double") /
          when(col("n_chars") === 0, lit(null)).otherwise(col("n_chars")))
          .as("digit_ratio"),
        (col("stopword_count").cast("double") /
          when(col("n_tokens") === 0, lit(null)).otherwise(col("n_tokens")))
          .as("stopword_ratio"),
        (least(lit(1.0), col("n_tokens").cast("double") / 100.0) *
          (lit(1.0) - col("punct_count").cast("double") /
            when(col("n_chars") === 0, lit(null)).otherwise(col("n_chars"))) *
          (lit(0.5) + lit(0.5) * least(lit(1.0),
            col("stopword_count").cast("double") /
              when(col("n_tokens") === 0, lit(null)).otherwise(col("n_tokens")) * 10.0)))
          .as("quality_score"))
  }

  // ─── t03 token counting (whitespace + BPE-ish) ───────────────────────
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        wsTokenCount(col("text")).as("ws_tokens"),
        bpeIshTokenCount(col("text")).as("bpe_ish_tokens"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") /
          when(col("bpe_ish_tokens") === 0, lit(null)).otherwise(col("bpe_ish_tokens")))
  }

  // ─── t04 content fingerprinting + exact-dup ranking ──────────────────
  def fingerprintDocs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val fp = d.select(col("doc_id"), col("lang"), col("source"),
      fingerprint(col("text")).as("fingerprint"))
    val w = Window.partitionBy(col("fingerprint")).orderBy(col("doc_id"))
    fp.withColumn("dup_rank", row_number().over(w).cast("long"))
      .withColumn("is_exact_dup", col("dup_rank") > 1)
      .withColumn("fingerprint_prefix", substring(col("fingerprint"), 1, 8))
  }

  // ─── t05 deterministic language-rebalancing hash sampler ─────────────
  /** Corpus quota sampling without an RNG: the keep/drop decision is a
    * pure function of (doc_id, lang) — a 16-bit md5-prefix bucket — so
    * the sample is reproducible on any engine, any partitioning, and
    * any re-run (what a 100 TB curation run needs: re-executing a
    * failed stage must not change the sample). Dominant-language docs
    * (en) downsample to 300‰ while low-resource languages keep 800‰ —
    * the usual rebalancing shape of LLM corpus curation. Zero shuffle:
    * a narrow filter the scan absorbs; at scale prefer this rate form
    * over exact per-stratum quotas (rank-by-hash + window per lang).
    */
  def hashSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val bucket =
      (conv(substring(md5(concat_ws("_", col("doc_id"), col("lang"))), 1, 4), 16, 10)
        .cast("long") % 1000).as("bucket")
    val rate = when(col("lang") === "en", 300L).otherwise(800L).as("rate_permille")
    d.select(col("doc_id"), col("lang"), col("source"), bucket, rate)
      .filter(col("bucket") < col("rate_permille"))
  }

  // ─── t11 mixture resampler (APPLY the source weights d10 reports) ────
  /** The stage that closes the mixture loop: d10 reports what dedup did
    * to the per-source mixture; this operator RE-BALANCES it — each
    * source whose token mass exceeds the median source's is
    * down-sampled to that cap with a deterministic per-mille hash
    * gate (t05's discipline: integer bucket from an md5 prefix, so a
    * re-run, a retried stage, or another engine selects the SAME
    * docs). Sources at or under the cap keep everything (rate 1000‰).
    * One summary row per source: raw vs sampled doc/token counts, the
    * cap, and the applied rate — the table a mixture build logs next
    * to the d10 report it started from.
    *
    * Scale: the corpus collapses to a narrow (doc, source, tokens,
    * bucket) projection; per-source totals are one map-side-combining
    * aggregation; the median-of-~sources percentile runs on the tiny
    * totals frame (NOT a per-group corpus buffer — no approx path
    * needed); rates broadcast back against the streamed projection.
    * Rate arithmetic is single IEEE ops on exact integer totals, so
    * the permille thresholds are bit-identical on any engine.
    */
  def mixtureResample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("long").as("n_tokens"),
      (conv(substring(md5(concat_ws("_", col("doc_id"), col("source"))), 1, 4), 16, 10)
        .cast("long") % 1000).as("bucket"))
    val totals = d.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens_total"))
    val cap = totals.agg(expr("percentile(tokens_total, 0.5)").as("target_tokens"))
    // floor of ≥1‰: a source >1000× the cap would otherwise floor to
    // 0‰ and VANISH from the mixture — the resampler's contract is
    // "cap the dominant source", never "delete it"
    // tokens_total = 0 (a source of all-empty docs) would make the
    // ratio Inf/NaN, where the engines diverge (Spark floors NaN to 0
    // silently; DuckDB's CAST raises) — a zero-token source is
    // trivially within any token cap, so keep it whole
    val rates = totals.crossJoin(broadcast(cap))
      .withColumn("rate_permille",
        when(col("tokens_total") > 0,
          greatest(lit(1L), least(lit(1000L),
            floor(lit(1000.0) * col("target_tokens") / col("tokens_total")))))
        .otherwise(lit(1000L)))
    val sampled = d
      .join(broadcast(rates.select(col("source"), col("rate_permille"))), Seq("source"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("bucket") < col("rate_permille"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("bucket") < col("rate_permille"), col("n_tokens")).otherwise(0L))
          .as("tokens_sampled"))
    rates.join(sampled, Seq("source"))
      .select(col("source"), col("n_docs"), col("tokens_total"),
        col("target_tokens"), col("rate_permille"),
        col("n_sampled"), col("tokens_sampled"))
  }

  // ─── t20 temperature-scaled mixture (α-sampling) ─────────────────────
  /** Temperature-scaled source mixture — the multilingual α-sampling
    * recipe (XLM-R / mT5: sample source s ∝ p_s^α, α < 1, flattening
    * the mixture so low-resource sources keep representation without
    * letting the head dominate). t11 caps every source at the median
    * (a hard ceiling); this keeps a CONTINUOUS re-weighting: in the
    * downsample-only regime the keep rate is q_s/p_s normalized so the
    * smallest source keeps everything — rate_s = (p_min/p_s)^(1−α).
    *
    * α is fixed at 1/2 deliberately: the rate becomes
    * √(tokens_min/tokens_s), and IEEE-754 `sqrt` is CORRECTLY ROUNDED
    * in both engines (unlike `pow`, which is why a free α would break
    * the oracle hash — the t09/t16 no-transcendentals discipline).
    * The rate is one exact-integer division → one sqrt → one multiply
    * → floor: four deterministic roundings, bit-identical anywhere.
    * Keep/drop is t05's md5-permille gate (salted "a": independent of
    * t05/t11/t15/the calibration sampler).
    *
    * Scale: identical shape to t11 — narrow corpus projection,
    * map-side-combining per-source totals, the 1-row min frame
    * broadcast back (never a collected literal), rates broadcast
    * against the streamed projection. Zero corpus-sized windows.
    */
  def alphaMixture(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("long").as("n_tokens"),
      (conv(substring(md5(concat_ws("_", col("doc_id"), col("source"), lit("a"))), 1, 4), 16, 10)
        .cast("long") % 1000).as("bucket"))
    val totals = d.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens_total"))
    val mn = totals.agg(min(col("tokens_total")).as("tokens_min"))
    // ≥1‰ floor: t11's contract — flatten the dominant source, never
    // delete it. tokens_total = 0 would make the ratio 0/0 = NaN,
    // where the engines diverge (Spark floors NaN to 0 silently;
    // DuckDB's CAST raises) — a zero-token source IS the minimum, so
    // its α-rate is 1 (keep all), guarded identically in the oracle
    val rates = totals.crossJoin(broadcast(mn))
      .withColumn("rate_permille",
        when(col("tokens_total") > 0,
          greatest(lit(1L), least(lit(1000L),
            floor(lit(1000.0) * sqrt(
              col("tokens_min").cast("double") / col("tokens_total").cast("double"))))))
        .otherwise(lit(1000L)))
    val sampled = d
      .join(broadcast(rates.select(col("source"), col("rate_permille"))), Seq("source"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("bucket") < col("rate_permille"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("bucket") < col("rate_permille"), col("n_tokens")).otherwise(0L))
          .as("tokens_sampled"))
    rates.join(sampled, Seq("source"))
      .select(col("source"), col("n_docs"), col("tokens_total"),
        col("rate_permille"), col("n_sampled"), col("tokens_sampled"))
  }

  // ─── t06 repetition quality rules (Gopher-style) ─────────────────────
  /** The repetition family of corpus-quality rules: duplicate-word
    * fraction, the character share of the single most frequent word
    * 2-gram, and the fraction of 2-gram occurrences that are repeats —
    * the signals that catch boilerplate, keyword stuffing, and
    * degenerate generation loops, which length/punctuation ratios (t02)
    * miss entirely. A doc passes the filter when neither repetition
    * signal exceeds its threshold.
    *
    * Scale: ONE corpus scan — the per-doc word stats (functionally
    * dependent on doc_id) ride the bigram explode as extra grouping
    * keys instead of a second scan + corpus-sized join-back; both
    * aggregations partial-aggregate map-side on high-cardinality keys;
    * the argmax is the windowless `max(struct(cnt, bigram))` (ties
    * break to the lexicographically largest bigram in both engines).
    * All fractions are single IEEE divisions of integers — bit-stable
    * at any parallelism.
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val docKeys = Seq(col("doc_id"), col("n_chars"), col("n_words"), col("n_distinct_words"))
    val exploded = d
      .select(col("doc_id"), col("n_chars"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("w"))
      .select(col("doc_id"), col("n_chars"),
        size(col("w")).cast("long").as("n_words"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct_words"),
        explode(zip_with(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (x, y) => concat(x, lit(" "), y))).as("bigram"))
    val btop = exploded
      .groupBy(docKeys :+ col("bigram"): _*).agg(count(lit(1)).as("cnt"))
      .groupBy(docKeys: _*)
      .agg(
        max(struct(col("cnt"), col("bigram"))).as("top"),
        sum(col("cnt")).as("total_bigrams"),
        coalesce(sum(when(col("cnt") > 1, col("cnt"))), lit(0L)).as("dup_occ"))
    val dupWordFrac =
      lit(1.0) - col("n_distinct_words").cast("double") / col("n_words")
    val topCharFrac =
      (col("top.cnt") * length(col("top.bigram"))).cast("double") / col("n_chars")
    btop
      .select(
        col("doc_id"), col("n_words"), col("n_distinct_words"),
        dupWordFrac.as("dup_word_frac"),
        col("top.bigram").as("top_bigram"),
        col("top.cnt").as("top_bigram_count"),
        topCharFrac.as("top_bigram_char_frac"),
        (col("dup_occ").cast("double") / col("total_bigrams")).as("dup_bigram_frac"),
        (dupWordFrac <= 0.85 && topCharFrac <= 0.20).as("passes_repetition_filter"))
  }

  // ─── t07 per-language quality prune ──────────────────────────────────
  /** Score-based curation: drop each language's bottom quality quartile
    * (the "filter by model/heuristic score, calibrated per language"
    * step of LLM corpus curation — a single global threshold would
    * gut low-resource languages whose score distributions sit lower).
    * One zero-safe row per doc with its threshold and the keep flag —
    * the keep-list AND the audit trail of what the filter cost.
    *
    * Scale: scoring is the t02 narrow projection; the per-language
    * exact p25 is one tiny aggregation (values collect per language —
    * the exact-percentile cost); thresholds broadcast back against the streamed scored
    * corpus. Score and threshold are computed from the same expressions
    * on both engines, so the >= comparison is bit-stable (percentile ==
    * quantile_cont established by q26).
    */
  def qualityPrune(spark: SparkSession, dir: String): DataFrame = {
    val s = scoredDocs(spark, dir).select(col("doc_id"), col("lang"), col("quality_score"))
    val thresholds = s.groupBy(col("lang"))
      .agg(expr("percentile(quality_score, 0.25)").as("lang_p25"))
    s.join(broadcast(thresholds), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("quality_score"), col("lang_p25"),
        (col("quality_score") >= col("lang_p25")).as("is_kept"))
  }

  // ─── t08 deterministic token-budget sampler ──────────────────────────
  /** Budgeted mixture sampling: select documents per source, in a
    * deterministic hash order, until each source reaches a token budget
    * (half its corpus here) — the "build the training mix to a budget"
    * step that follows the weighting decisions of d10. RNG-free like
    * t05, so a re-run, a retried stage, or another engine selects the
    * SAME documents.
    *
    * Scale: the naive form is a running-token-sum window partitioned by
    * source — a ≤#sources-key window that funnels the corpus into a
    * handful of tasks (the d04/d06 anti-pattern). Two phases avoid it:
    * (1) per (source, hash-bucket) token totals — a tiny frame — get
    * cumulative ends per source, which classifies every NON-boundary
    * bucket as wholly kept or wholly dropped with no window at all;
    * (2) only the single boundary bucket per source (1/256th of that
    * source) pays the running-sum window, seeded with its bucket's
    * cumulative start. The bucket id is the first two hex chars of the
    * ordering hash, so bucket order == hash order and the greedy prefix
    * is exactly the one the single-window form selects.
    *
    * Measured: at sf0.1 the naive form is ~2x FASTER (0.48s vs 0.97s
    * median) — 5k docs over 20 sources never stress the window, and the
    * two-phase pays a second scan plus the broadcast join. Kept anyway:
    * the naive form serializes each source's entire corpus slice
    * through one task (the d04/d06 bounded-key anti-pattern), which is
    * the difference between hours and minutes at real corpus scale;
    * PlanHygieneSpec pins the doc-facing window to (source, bucket).
    */
  def tokenBudgetSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(
        col("doc_id"), col("source"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("rk"))
      .withColumn("bucket", conv(substring(col("rk"), 1, 2), 16, 10).cast("long"))
    val wcum = Window.partitionBy(col("source")).orderBy(col("bucket"))
    val meta = d.groupBy(col("source"), col("bucket"))
      .agg(sum(col("n_tokens")).as("btok"))
      .withColumn("cum_end", sum(col("btok")).over(wcum))
      .withColumn("cum_start", col("cum_end") - col("btok"))
      .withColumn("budget",
        // exact integer halving (x div 2): Column `/` promotes to double,
        // which loses exactness past 2^53 tokens
        shiftright(sum(col("btok")).over(Window.partitionBy(col("source"))), 1))
      .select(col("source"), col("bucket"), col("cum_start"), col("cum_end"), col("budget"))
    val classified = d.join(broadcast(meta), Seq("source", "bucket"))
    val outCols = Seq(col("doc_id"), col("source"), col("n_tokens"), col("budget"))
    val clear = classified
      .filter(col("cum_end") <= col("budget") || col("cum_start") >= col("budget"))
      .select(outCols :+ (col("cum_end") <= col("budget")).as("is_sampled"): _*)
    val wb = Window.partitionBy(col("source"), col("bucket"))
      .orderBy(col("rk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = classified
      .filter(col("cum_start") < col("budget") && col("budget") < col("cum_end"))
      .withColumn("run", col("cum_start") + sum(col("n_tokens")).over(wb))
      .select(outCols :+ (col("run") <= col("budget")).as("is_sampled"): _*)
    clear.union(boundary)
  }

  // ─── t12 deterministic sequence packing ──────────────────────────────
  /** Contiguous sequence packing: assign every document a training
    * SEQUENCE id and intra-sequence token offset under a fixed token
    * budget (2048 here) — the "pack the corpus into context windows"
    * step a pretraining data build runs after sampling/mixing.
    * Documents line up in the deterministic md5(doc_id) order (the
    * t05/t08 discipline: re-runs, retried stages, and other engines
    * pack IDENTICALLY); a document belongs to the sequence its first
    * token lands in (exclusive running sum div budget) at offset
    * (running sum mod budget) — the contiguous-packing layout whose
    * boundary-straddling docs a tokenizer-side writer splits across
    * the two windows.
    *
    * Scale: the naive form is ONE GLOBAL running-sum window — the
    * whole corpus through a single task. Two phases avoid it (t08's
    * trick at global scope): (1) per-bucket token totals — a 256-row
    * frame — take exclusive global offsets via a window over that tiny
    * frame only; (2) the corpus-sized exclusive running sum windows by
    * BUCKET (256-way parallel, order (h, doc_id) within) and adds its
    * bucket's offset. Bucket = first two hex chars of the ordering
    * hash, so bucket order == hash order and the composed pre-sums
    * equal the single-window form's exactly (PlanHygieneSpec pins the
    * corpus-facing window to the bucket key).
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packSequencesFrame(Tables.documents(spark, dir), 2048L)

  /** Frame-level core (the property spec replays generated corpora). */
  private[graft] def packSequencesFrame(docs: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, s"sequence token budget must be positive, got $budget")
    val d = docs.select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("tokens"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("bucket", conv(substring(col("h"), 1, 2), 16, 10).cast("long"))
    val offs = d.groupBy(col("bucket")).agg(sum(col("tokens")).as("btok"))
      .withColumn("boff",
        coalesce(sum(col("btok")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("boff"))
    val wb = Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.join(broadcast(offs), Seq("bucket"))
      .withColumn("pre",
        col("boff") + coalesce(sum(col("tokens")).over(wb), lit(0L)))
      .select(col("doc_id"), col("tokens"),
        // `div`: exact integer division (Column `/` promotes to double,
        // which loses exactness past 2^53 total tokens)
        expr(s"CAST(pre div $budget AS BIGINT)").as("seq_id"),
        pmod(col("pre"), lit(budget)).as("seq_offset"))
  }

  // ─── t09 TF-IDF keyword extraction ───────────────────────────────────
  /** Top-3 characteristic terms per document by TF-IDF — the tagging /
    * topic-surfacing primitive (search indexing, cluster labeling,
    * near-dup triage all read it). The score is `tf · N / df`, the
    * MONOTONE equivalent of `tf · ln(N/df)` rank-wise (ln is increasing,
    * tf > 0): ranking by the raw ratio skips the logarithm, whose last-
    * ulp results differ across libm implementations — `tf·N` is an exact
    * integer and the single IEEE division by `df` is bit-identical on
    * every engine, so ranks (and the emitted score) are hash-stable.
    * Ties break on the token string for a deterministic total order.
    *
    * Scale: one corpus scan explodes tokens into the (doc, token) TF
    * aggregation (map-side combine); document frequency is a second
    * tiny aggregation OF THE TF FRAME (vocab-sized — no second corpus
    * scan); the vocab frame joins back declaratively (AQE broadcasts it
    * while it fits) and the top-k window partitions on doc_id — high
    * cardinality, bounded per-doc group. N rides along as a broadcast
    * 1-row frame (the q39 pattern), never a collected literal.
    */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val tf = d
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    // sum(tf > 0 → 1) not count(*): every tf row is ≥ 1 so the value is
    // identical, but the predicate genuinely consumes the tf column,
    // which keeps this branch's (doc, token) aggregate subtree IDENTICAL
    // to the tf branch — with count(*) (or count(tf), which canonicalizes
    // to it) column pruning strips tf here, the subtrees stop
    // canonicalizing together, and AQE stage reuse can't eliminate the
    // second corpus explode (PlanHygieneSpec pins the ReusedExchange)
    val dfreq = tf.groupBy(col("token"))
      .agg(sum(when(col("tf") > 0, 1L)).as("df"))
    val scored = tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("token"))
    scored
      .withColumn("kw_rank", row_number().over(w).cast("long"))
      .filter(col("kw_rank") <= 3)
      .select(col("doc_id"), col("kw_rank"), col("token"), col("tf"), col("df"), col("score"))
  }

  // ─── t10 vocabulary coverage report ──────────────────────────────────
  /** Corpus-wide token frequency census: every distinct token with its
    * occurrence count, document frequency, corpus share, frequency rank,
    * and cumulative coverage — the table read before tokenizer/vocab
    * induction ("how many types cover 95% of tokens?") and the Zipf
    * sanity check of a new corpus source. Ranks order by (count desc,
    * token) so ties are deterministic.
    *
    * Scale: the corpus aggregates ONCE into the (token, occurrences,
    * doc_freq) vocab frame — `count` + `count_distinct` over the token
    * explode, both partial-aggregating map-side (distinct doc counting
    * expands per-key, bounded by vocab × docs-per-token). The global
    * rank and cumulative share then apply the t08/t12/t17 two-phase
    * trick to the VOCAB frame, because at 100 TB a vocab census is
    * 10⁷–10⁹ types and a bare `Window.orderBy` would funnel all of
    * them through ONE task: the bucket key is the rank ordering's own
    * prefix — (occurrences, first-2-chars-of-token) — which is
    * monotone in (occurrences desc, token asc), so bucket order IS
    * rank order and every tie stays inside one bucket's partition.
    * The bucket-meta frame (one row per distinct (count, prefix) pair
    * — orders of magnitude below the vocab, Zipf guarantees few
    * distinct counts and the prefix only splits the huge low-count
    * ties) takes the global row/occurrence offsets and the grand
    * total in one tiny unpartitioned window (the documented post-agg
    * exception, SURVEY §5); vocab rows then rank/cum-sum in a window
    * PARTITIONED by the bucket key — the join and the window share
    * one (occurrences, pfx) exchange, and AQE broadcasts the meta
    * side at any realistic scale.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("token"))
    val vocab = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .withColumn("pfx", substring(col("token"), 1, 2))
    val meta = vocab.groupBy(col("occurrences"), col("pfx"))
      .agg(count(lit(1)).as("n_rows"), sum(col("occurrences")).as("b_occ"))
    val wm = Window.orderBy(col("occurrences").desc, col("pfx"))
    val meta2 = meta.select(
      col("occurrences"), col("pfx"),
      coalesce(sum(col("n_rows"))
        .over(wm.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("rank_start"),
      coalesce(sum(col("b_occ"))
        .over(wm.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("occ_start"),
      sum(col("b_occ"))
        .over(wm.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .as("total_occ"))
    val wb = Window.partitionBy(col("occurrences"), col("pfx")).orderBy(col("token"))
    vocab.join(meta2, Seq("occurrences", "pfx"))
      .withColumn("freq_rank",
        (col("rank_start") + row_number().over(wb)).cast("long"))
      .withColumn("cum_occ",
        col("occ_start") + sum(col("occurrences"))
          .over(wb.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("freq_rank"), col("token"), col("occurrences"), col("doc_freq"),
        (col("occurrences").cast("double") / col("total_occ")).as("share"),
        (col("cum_occ").cast("double") / col("total_occ")).as("cum_share"))
  }

  // ─── q33 per-language corpus statistics ──────────────────────────────
  /** The corpus report a curation run ends with: per-language doc
    * counts, token volume, and the exact token-count distribution
    * (p25/p50/p90). One map-side-combined aggregation over a narrow
    * projection; exact percentiles use the engine-parity-safe
    * `percentile` (bit-matches DuckDB's quantile_cont, established by
    * q26).
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("n_tokens"))
    def pct(p: Double) = expr(s"percentile(n_tokens, $p)")
    d.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("total_tokens"),
      pct(0.25).as("p25_tokens"),
      pct(0.5).as("p50_tokens"),
      pct(0.9).as("p90_tokens"),
      sum(col("n_chars")).as("total_chars"))
  }

  // ─── t13 cross-doc boilerplate census ────────────────────────────────
  /** Boilerplate detection — the crawl-cleaning stage that strips
    * headers/footers/nav text repeated across pages (exact-substring
    * dedup at segment grain, the Lee-et-al-style pass, re-expressed
    * for a distributed engine at 8-token window grain): an 8-gram is
    * BOILERPLATE when it appears in more than 10 distinct
    * docs, and each doc reports how much of it is made of flagged
    * windows. Complements t06 (within-doc repetition) and d13
    * (benchmark-crossing grams): this is the corpus-internal
    * cross-doc axis.
    *
    * Scale: one explode → one map-side-combining census groupBy; the
    * FLAGGED subset (high-DF grams — small by construction at any
    * corpus size: a gram in >10 docs is rare precisely because
    * most text is unique) broadcast-joins back against the exploded
    * grams, so the corpus-sized side is never shuffled twice.
    * Determinism: integer counts; one per-row division at the end.
    */
  def boilerplateCensus(spark: SparkSession, dir: String): DataFrame =
    boilerplateFrame(Tables.documents(spark, dir))

  /** Frame-level census — the spec drives synthetic boilerplate-bearing
    * docs through it (the synthetic corpus's random word streams make
    * 8-grams unique, so its census is all-zero: a clean report, which
    * the oracle still verifies per-doc via the window counts).
    */
  def boilerplateFrame(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("t"))
    val grams = toks.filter(size(col("t")) >= 8)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 7)).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", (0 until 8).map(o => element_at(col("t"), col("i") + o)): _*)
          .as("gram"))
    val flagged = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > 10L)
    val perDoc = grams.join(broadcast(flagged), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df").isNotNull, 1L).otherwise(0L)).as("n_boilerplate_grams"))
    // every doc reports — short docs (< 8 tokens) have no windows and a
    // zero fraction, the same "clean is a result" rule as d08
    toks.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boilerplate_grams"), lit(0L)).as("n_boilerplate_grams"),
        when(coalesce(col("n_grams"), lit(0L)) === 0L, lit(0.0))
          .otherwise(col("n_boilerplate_grams").cast("double") / col("n_grams"))
          .as("boilerplate_frac"))
  }

  // ─── t14 PII census + redaction ──────────────────────────────────────
  /** PII scrubbing — the redaction pass a training corpus takes before
    * release: per-doc counts of email / phone / IPv4 patterns and the
    * redacted text ([EMAIL]/[PHONE]/[IP] placeholders, applied in a
    * fixed order so overlapping digit patterns resolve identically in
    * any engine). The synthetic corpus is clean, and proving it clean
    * IS the report (the d08 rule); TextAnalysisSpec drives synthetic
    * PII-bearing docs through the same operator for the positive
    * cases. Pure per-row codegen'd regex — no shuffle at all.
    */
  private val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val piiPhone = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"
  private val piiIp = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrubFrame(Tables.documents(spark, dir))

  /** Frame-level scrubber (the spec feeds synthetic PII through it). */
  def piiScrubFrame(docs: DataFrame): DataFrame = {
    val t = col("text")
    // order matters with overlapping digit runs: IP before phone would
    // leave dotted phones half-redacted differently — fixed as
    // email → phone → ip, identical in the oracle
    val clean =
      regexp_replace(
        regexp_replace(
          regexp_replace(t, piiEmail, "[EMAIL]"),
          piiPhone, "[PHONE]"),
        piiIp, "[IP]")
    docs.select(col("doc_id"),
      size(regexp_extract_all(t, lit(piiEmail), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(piiPhone), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(t, lit(piiIp), lit(0))).cast("long").as("n_ips"),
      clean.as("clean_text"))
      .withColumn("is_clean",
        col("n_emails") + col("n_phones") + col("n_ips") === 0L)
  }

  // ─── t15 contamination-safe train/val/test split ─────────────────────
  /** Deterministic 98/1/1 train/validation/test split keyed on the
    * CONTENT fingerprint, not the doc id: byte-identical documents
    * hash to the same per-mille bucket, so an exact duplicate can
    * never straddle the held-out boundary — a doc_id-keyed split leaks
    * every exact dup across it, handing eval rows the model saw
    * verbatim in train. (Near-dup leakage across the boundary is the
    * decontamination family's job — d08's near-dup and d13's 13-gram
    * screens run against whatever the test fold feeds.) The gate is
    * t05's discipline — an integer per-mille bucket from an md5
    * prefix — so re-runs, retried stages, and other engines assign
    * the SAME split.
    *
    * Scale: pure per-row projection, zero shuffle, absorbed by the
    * scan — the split stamp is read by every downstream stage, so it
    * costing nothing is the point.
    */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    hashSplitFrame(Tables.documents(spark, dir))

  /** Frame-level core (the spec feeds dup-bearing corpora through it). */
  def hashSplitFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
        fingerprint(col("text")).as("fingerprint"))
      .withColumn("bucket",
        conv(substring(col("fingerprint"), 1, 4), 16, 10).cast("long") % 1000)
      .withColumn("split",
        when(col("bucket") < 980, "train")
          .when(col("bucket") < 990, "validation")
          .otherwise("test"))

  // ─── t16 DSIR-style importance weights ───────────────────────────────
  /** Data-selection importance weights via hashed-n-gram likelihood
    * ratios (the DSIR recipe — Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): word bigrams hash
    * into 1024 buckets, a target slice (here lang='en' — stand-in for
    * "looks like the high-quality corpus") and the full raw corpus
    * each yield a bucket distribution, and every document scores by
    * how target-like its own bucket counts are. Downstream, t05/t08/
    * t11-style samplers resample by this weight — together they are
    * the quality-targeted data-selection loop.
    *
    * Deviation from the paper, deliberately: the per-bucket statistic
    * is the SAME Laplace-smoothed ratio p̂_target(b)/p̂_raw(b), but the
    * document score sums `count·ratio` instead of `count·log(ratio)`
    * — log is transcendental (libm vs JVM last-bit drift would flip
    * the driver's hash), while the ratio form stays in exact integer
    * arithmetic end-to-end: each bucket's ratio is fixed-pointed to 6
    * dp by half-up INTEGER division ((2·num·10⁶+den) div (2·den)),
    * per-doc terms and sums are BIGINT (order-independent), and the
    * single final double division is IEEE-exact. Same ranking
    * direction, bit-stable on any engine at any parallelism.
    *
    * Scale: explode → one map-side-combining (doc, bucket) count; the
    * 1024-row census + 1-row totals broadcast back; per-doc collapse
    * is a second bounded shuffle. The census IS a published artifact
    * ([[ensureDsirModel]], build-if-missing like q32): the dir-based
    * query and every selection run (t17/t19) pay ONE corpus explosion
    * plus a broadcast join against the 1024-long model — the corpus
    * explodes twice only in the one run that builds the model (the
    * d03 band-table pattern; 1024 longs is the entire model). The ratio's
    * num/den products run in DECIMAL(38,0): in BIGINT the
    * intermediate (t_b+1)·(rr+B)·2·10⁶ wraps silently once
    * (t_b+1)·(rr+B) passes ~4.6·10¹² — with t_b ≈ rr/1024 that is
    * only ~10⁸–10⁹ total bigrams. The decimal form holds until
    * num·2·10⁶ itself passes 10³⁸, i.e. rr ≳ 10¹⁷ bigrams — beyond
    * any real corpus (100 TB of text is ~10¹³ tokens).
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeightsOf(spark, dir, Nil)

  /** One DSIR, keyed by its target grouping: `Nil` scores every
    * document against one global target (t16), `Seq("source")` against
    * its own source's target (t18). The keys ride every grouping of the
    * feats, the model and the scoring join; nothing else differs.
    */
  private def dsirWeightsOf(spark: SparkSession, dir: String,
                            keys: Seq[String]): DataFrame =
    dsirScore(dsirFeats(Tables.documents(spark, dir), keys),
      ensureDsirModel(spark, dir, keys), keys)

  /** Frame-level core of [[dsirWeights]] and [[dsirWeightsPerSource]] —
    * separated so the formula is assertable exactly on a
    * hand-computable corpus. Artifact-free: the model derives inline
    * from the same feats (the shape the dir-based query had before the
    * published-model path landed; the model is deterministic, so both
    * forms emit identical rows).
    */
  private[graft] def dsirWeightsFrame(docs: DataFrame, keys: Seq[String]): DataFrame = {
    val feats = dsirFeats(docs, keys)
    dsirScore(feats, dsirModelFrame(feats, keys), keys)
  }

  /** Hashed-bigram doc features (doc_id, keys…, is_target, bucket, c) —
    * ONE corpus explosion; both the census (model build) and the
    * scoring pass read this shape.
    */
  private def dsirFeats(docs: DataFrame, keys: Seq[String]): DataFrame = {
    val B = 1024L
    val id = col("doc_id") +: keys.map(col)
    docs
      .select(id ++ Seq((col("lang") === "en").as("is_target"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("t")): _*)
      .filter(size(col("t")) >= 2)
      .select(id ++ Seq(col("is_target"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i")): _*)
      .select(id ++ Seq(col("is_target"),
        concat_ws(" ", element_at(col("t"), col("i")),
          element_at(col("t"), col("i") + 1)).as("ng")): _*)
      .withColumn("bucket",
        conv(substring(md5(col("ng")), 1, 4), 16, 10).cast("long") % B)
      .groupBy(id ++ Seq(col("is_target"), col("bucket")): _*)
      .agg(count(lit(1)).as("c"))
  }

  /** The DSIR MODEL — 1024 (keys…, bucket, r6) fixed-point ratios per
    * target group from a feats frame. This 8 KB-per-group frame is the
    * whole model, which is why the dir-based queries publish it once
    * and re-read it (see [[ensureDsirModel]]).
    */
  private def dsirModelFrame(feats: DataFrame, keys: Seq[String]): DataFrame = {
    val B = 1024L
    val census = feats.groupBy(keys.map(col) :+ col("bucket"): _*)
      .agg(sum(col("c")).as("r_b"),
        sum(when(col("is_target"), col("c")).otherwise(0L)).as("t_b"))
    val totals = census.groupBy(keys.map(col): _*)
      .agg(sum(col("r_b")).as("rr"), sum(col("t_b")).as("tt"))
    // the global model's totals are one row: a broadcast nested-loop
    // cross join, never a keyless equi-join
    (if (keys.isEmpty) census.crossJoin(broadcast(totals))
     else census.join(broadcast(totals), keys))
      .withColumn("num",
        (col("t_b") + 1L).cast("decimal(38,0)") * (col("rr") + B).cast("decimal(38,0)"))
      .withColumn("den",
        (col("r_b") + 1L).cast("decimal(38,0)") * (col("tt") + B).cast("decimal(38,0)"))
      // integral div of the DECIMAL(38,0) pair returns BIGINT — r6 is a
      // 6-dp ratio (≤ ~10⁹ in any real mix), far inside long range
      .withColumn("r6", expr("(num * 2000000 + den) div (2 * den)"))
      .select(keys.map(col) ++ Seq(col("bucket"), col("r6")): _*)
  }

  /** Scoring pass: one broadcast join of the model against the feats. */
  private def dsirScore(feats: DataFrame, model: DataFrame,
                        keys: Seq[String]): DataFrame = {
    val id = col("doc_id") +: keys.map(col)
    feats.join(broadcast(model), keys :+ "bucket")
      .groupBy(id: _*)
      .agg(sum(col("c") * col("r6")).as("wfp"), sum(col("c")).as("n_bigrams"))
      .select(id ++ Seq(col("n_bigrams"),
        (col("wfp").cast("double") / 1000000.0d).as("weight")): _*)
  }

  /** Build-if-missing published DSIR model (the q32 contract, claimed
    * once through [[Sinks.ensure]] at the canonical key: `dsir_model`
    * for the global target, `dsir_model_ps` per source): the
    * census pass — the SECOND corpus explosion every t16/t17 run used
    * to pay — runs once per corpus and lands in the warehouse; every
    * weighting/selection run after it is one explosion + a broadcast
    * join. This is the "at 100 TB the census is the artifact you'd
    * publish once" note made real (and what the t17/t19 docs mean by
    * "production reads the published weights table").
    */
  private def ensureDsirModel(spark: SparkSession, dir: String,
                              keys: Seq[String]): DataFrame = {
    val name = if (keys.isEmpty) "dsir_model" else "dsir_model_ps"
    Sinks.ensure(spark, Sinks.artifactPath(spark, name, dir)) {
      dsirModelFrame(dsirFeats(Tables.documents(spark, dir), keys), keys)
    }
  }

  // ─── t17 DSIR-weighted budget selection ──────────────────────────────
  /** The selection step that closes the DSIR loop: order the corpus by
    * t16's importance weight (descending, doc_id tiebreak) and keep
    * documents until half the corpus tokens are spent — "fill the
    * training budget with the most target-like data first" (the
    * deterministic greedy variant of the paper's weight-proportional
    * resampling; same selection pressure, replayable on any engine).
    * t08 fills a budget in neutral hash order; this is its
    * quality-TARGETED counterpart.
    *
    * Scale: the naive form is one GLOBAL running-sum window ordered by
    * weight — the whole corpus through a single task. The t08/t12
    * two-phase trick applies because the weight is already a 6-dp
    * fixed-point integer (t16): VALUE buckets `wfp div 8192` are
    * monotone in the weight, so bucket order == selection order —
    * per-bucket token totals (tiny frame) classify every non-boundary
    * bucket with no window; only the boundary bucket pays a running
    * sum, seeded with its cumulative start. Weight ties land in one
    * bucket by construction, so the doc_id tiebreak stays local.
    * Boundary classification is half-open as a CONVENTION pin, not a
    * live edge: a zero-token doc at the head of the cum_start == budget
    * bucket would diverge between the two branches (run == budget is
    * selected by the running sum, rejected by the closed form) — but
    * zero-token docs cannot reach this frame, because the weights join
    * is inner and t16's feats filter requires ≥ 2 tokens. Routing the
    * bucket through the running sum keeps the code's convention
    * textually identical to the oracle's global running sum anyway, so
    * the equivalence argument never depends on the upstream filter.
    */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame =
    dsirSelectOf(spark, dir, Nil)

  // ─── t18 per-source DSIR targets ─────────────────────────────────────
  /** Multi-target DSIR (the production variant of Xie et al.'s recipe):
    * one target distribution per SOURCE domain — each document scores
    * against ITS OWN source's target slice (lang='en' within the
    * source), so a code-heavy domain's exemplar doesn't drag down a
    * prose domain's ratios (the single-global-target failure mode when
    * domains have different token statistics). Identical fixed-point
    * discipline to t16 — per-(source, bucket) Laplace ratios, half-up
    * integer division to 6 dp, BIGINT doc sums, one final IEEE
    * division — so the oracle replays the arithmetic bit-for-bit.
    *
    * Scale: the census aggregation gains only the source key — the
    * broadcast grows from 1024 longs to #sources × 1024 (still bytes
    * per source), the per-source totals ride a second tiny broadcast
    * join, and the corpus-side plan is unchanged from t16: explode →
    * one map-side-combining (doc, source, bucket) count → broadcast
    * scoring join → bounded per-doc collapse.
    */
  def dsirWeightsPerSource(spark: SparkSession, dir: String): DataFrame =
    dsirWeightsOf(spark, dir, Seq("source"))

  // ─── t19 per-source budget selection ─────────────────────────────────
  /** The per-source selection step closing the multi-target loop
    * (t18 → t19 as t16 → t17): each SOURCE fills its own token budget
    * (half that source's scored tokens) in its own weight order, so
    * the output is a per-domain mixture with every domain's most
    * target-like half — the mixture builder's production shape, where
    * domain token shares are a design decision and selection pressure
    * applies within the domain (a global budget would let one
    * high-ratio domain starve the rest).
    *
    * Scale: strictly better-shaped than t17 — the same two-phase
    * value-bucket trick, but every window is ALREADY partitioned (by
    * source for the bucket cumsum, by (source, value-bucket) for the
    * boundary running sum), so nothing funnels through one task even
    * before the trick applies; the bucket-meta frame is
    * #sources × buckets (broadcast), and each source pays exactly one
    * boundary bucket. Boundary classification is half-open exactly as
    * t17 — the same convention pin (zero-token docs cannot reach this
    * frame; see the t17 note), kept so the running-sum convention
    * matches the oracle's per-source running sum textually.
    */
  def dsirSelectPerSource(spark: SparkSession, dir: String): DataFrame =
    dsirSelectOf(spark, dir, Seq("source"))

  /** The t17/t19 budget selection, keyed like [[dsirWeightsOf]]: each
    * key group fills its own budget (half its scored tokens) in its own
    * weight order; with no keys the whole corpus is one group.
    */
  private def dsirSelectOf(spark: SparkSession, dir: String,
                           keys: Seq[String]): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val kc = keys.map(col)
    // published-model weighting (ensureDsirModel): the selection run
    // pays one scoring explosion, never the census
    val w = dsirWeightsOf(spark, dir, keys)
      .select(col("doc_id") +: kc :+ col("weight"): _*)
    val toks = docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("long").as("n_tokens"))
    // round(weight·10⁶) recovers t16's exact fixed-point integer: the
    // double is within 1e-10 of it, far inside the .5 rounding margin
    // d feeds THREE consumers (the bucket-meta census, the clear branch,
    // the boundary branch) — unpersisted, each re-ran the scoring
    // explosion (bigram explode + md5 per bigram) upstream of `w`.
    // Doc-sized (5 flat cols); released by the harness's per-query
    // clearCache. Round-14 A/B at sf0.1: 2.06 → 1.65 s solo-warm
    // (t19's same-shape persist read 1.71 → 1.42 s).
    // Round-15 adjudication (the r14 verdict's watch item): calm-window
    // interleaved A/B, 5-6 reps/side ×2 rounds — persist 1.61/1.46,
    // no-persist 1.38/1.71 (t17 warm s; t19 1.48/1.47 vs 1.32/1.63) —
    // run ORDER dominates, the delta is inside ±10% both directions,
    // and the persisted rows read at-or-under their r13 driver
    // baselines (1.59/1.81). KEPT: locally a wash, and at corpus scale
    // three scoring explosions → one is the dominant term.
    val d = w.join(toks, "doc_id")
      .withColumn("wfp", round(col("weight") * 1000000).cast("long"))
      .withColumn("vb", expr("wfp div 8192"))
      .persist()
    val wcum = Window.partitionBy(kc: _*).orderBy(col("vb").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val meta = d.groupBy(kc :+ col("vb"): _*).agg(sum(col("n_tokens")).as("btok"))
      .withColumn("cum_end", sum(col("btok")).over(wcum))
      .withColumn("cum_start", col("cum_end") - col("btok"))
      .withColumn("budget",
        shiftright(sum(col("btok")).over(Window.partitionBy(kc: _*)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)), 1))
      .select(kc ++ Seq(col("vb"), col("cum_start"), col("cum_end"), col("budget")): _*)
    val classified = d.join(broadcast(meta), keys :+ "vb")
    val outCols = (col("doc_id") +: kc) ++ Seq(col("n_tokens"), col("weight"))
    val clear = classified
      .filter(col("cum_end") <= col("budget") || col("cum_start") > col("budget"))
      .select(outCols :+ (col("cum_end") <= col("budget")).as("is_selected"): _*)
    val wb = Window.partitionBy(kc :+ col("vb"): _*)
      .orderBy(col("wfp").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val boundary = classified
      .filter(col("cum_start") <= col("budget") && col("budget") < col("cum_end"))
      .withColumn("run", col("cum_start") + sum(col("n_tokens")).over(wb))
      .select(outCols :+ (col("run") <= col("budget")).as("is_selected"): _*)
    clear.union(boundary)
  }

  // ─── t21 fixed-size overlapping chunking ─────────────────────────────
  /** Chunk length / stride (overlap = len − stride). 40-token chunks
    * with 8-token overlap — the context-window splitting a training or
    * retrieval pipeline applies to docs LONGER than its sequence
    * budget; t12 packs short docs UP to the budget, t21 splits long
    * docs DOWN to it (the two halves of sequence shaping). The
    * overlap keeps spans that straddle a cut present in one piece.
    */
  private[graft] val ChunkLen = 40
  private[graft] val ChunkStride = 32

  /** t21: deterministic overlapping chunks per doc. Chunk k of an
    * n-token doc starts at token 1 + k·stride, k = 0..⌈max(0, n−len)
    * / stride⌉ — so a doc at or under the budget is exactly one chunk
    * and the LAST chunk is the only short one.
    *
    * Scale: a pure per-row map + bounded explode (≤ n/stride chunks
    * per doc) — NO shuffle anywhere, stays inside whole-stage codegen;
    * parallelism is the scan's. The chunk count formula is closed-form
    * integer arithmetic, identical in the oracle.
    */
  def chunkDocuments(spark: SparkSession, dir: String): DataFrame =
    chunkDocumentsOf(Tables.documents(spark, dir))

  private[graft] def chunkDocumentsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("n"))
      .filter(col("n") >= 1)
      .select(col("doc_id"), col("t"), col("n"),
        explode(sequence(lit(0L),
          expr(s"(greatest(n - $ChunkLen, 0) + ${ChunkStride - 1}) div $ChunkStride")))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * ChunkStride + 1).as("chunk_start"), col("t"), col("n"))
      .select(col("doc_id"), col("chunk_id"), col("chunk_start"),
        (least(col("chunk_start") + (ChunkLen - 1), col("n")) - col("chunk_start") + 1)
          .as("n_chunk_tokens"),
        array_join(slice(col("t"), col("chunk_start").cast("int"),
          (least(col("chunk_start") + (ChunkLen - 1), col("n")) - col("chunk_start") + 1)
            .cast("int")), " ").as("chunk_text"))

  // ─── t22 corpus bigram-LM plausibility score ─────────────────────────
  /** Fixed-point scale for the per-bigram conditional probability
    * (parts-per-million). Deliberately 10⁶, not 10⁹: the score is
    * SCALE·c12 before the integer divide, and prefix/bigram counts at
    * the 100 TB corpus can reach ~10¹² — 10⁶ keeps the product under
    * 10¹⁸ < Long.MaxValue, where 10⁹ would overflow.
    */
  private val LmScale = 1000000L

  /** t22: per-doc language-model plausibility under the corpus's OWN
    * bigram statistics — the CCNet/KenLM-style quality lens (score a
    * doc by how "expected" its word transitions are) without an
    * external model: P(w₂|w₁) = C(w₁w₂)/C(w₁·), and a doc's score is
    * the count-weighted mean of its bigrams' conditional probabilities
    * in [[LmScale]] fixed point — how PREDICTABLE the doc's word
    * transitions are given its own prefixes' corpus behavior. Low
    * score = prefixes that fan out many ways here took a rare branch
    * (word-salad spam interleaving common words); high = transitions
    * the corpus agrees on. NB the conditional form scores a
    * corpus-UNIQUE prefix as perfectly predictable (c12 = c1 = 1 ⇒
    * P = 1) — rarity itself is deliberately the OTHER column's job:
    * `n_novel`/`novel_frac` count bigrams occurring exactly once
    * corpus-wide (a doc of entirely unique transitions is original
    * prose or noise; jointly with lm_score and t02's quality score
    * the cases separate). Docs under 2 tokens have no bigrams and are
    * excluded by both engines.
    *
    * Determinism: conditional probabilities are integer fixed point
    * (SCALE·c12 div c1) and the per-doc mean is an integer sum divided
    * by the bigram count — associative BIGINT arithmetic, bit-identical
    * across engines regardless of aggregation order (the [[Graph]]
    * fixed-point discipline; float probabilities would drift in the
    * last ulps). Bigram/prefix keys are the d28 60-bit md5-prefix
    * BIGINTs — both engines derive the same bits, so the rare
    * truncation collision is deterministic and identical.
    *
    * Scale: one hash aggregation to (doc, prefix, bigram) granularity
    * (map-side partial combine on uniform md5 keys), two count frames
    * derived FROM that aggregate (never from the raw position stream),
    * two equi-joins back on uniform 8-byte keys, one per-doc hash
    * aggregation. No windows, no pairwise joins; a stopword-heavy
    * prefix is one ROW in the count frame (counts pre-aggregated), so
    * natural-language key skew never concentrates join work.
    */
  def bigramLmScore(spark: SparkSession, dir: String): DataFrame =
    bigramLmScoreOf(Tables.documents(spark, dir))

  private[graft] def bigramLmScoreOf(docs: DataFrame): DataFrame = {
    val occ = docs
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(col("doc_id"),
        conv(substring(md5(element_at(col("t"), col("i"))), 1, 15), 16, 10)
          .cast("long").as("h1"),
        conv(substring(md5(concat_ws(" ",
          element_at(col("t"), col("i")), element_at(col("t"), col("i") + 1))), 1, 15), 16, 10)
          .cast("long").as("h12"))
      .groupBy(col("doc_id"), col("h1"), col("h12"))
      .agg(count(lit(1)).as("m"))
      // THREE consumers (both count frames + the join-back) — without
      // the persist each re-ran the explode + two-md5-per-bigram chain
      // upstream of the aggregate. Narrow (4 longs); released by the
      // harness's per-query clearCache. Round-14 A/B at sf0.1:
      // 1.67 → 1.06 s solo-warm.
      .persist()
    val c12 = occ.groupBy(col("h12")).agg(sum(col("m")).as("c12"))
    val c1 = occ.groupBy(col("h1")).agg(sum(col("m")).as("c1"))
    occ.join(c12, Seq("h12")).join(c1, Seq("h1"))
      .select(col("doc_id"), col("m"),
        expr(s"($LmScale * c12) div c1").as("p_fp"),
        when(col("c12") === 1, col("m")).otherwise(lit(0L)).as("novel"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        expr("sum(m * p_fp) div sum(m)").as("lm_score_fp"),
        sum(col("novel")).as("n_novel"))
      .select(col("doc_id"), col("n_bigrams"), col("lm_score_fp"), col("n_novel"),
        // constant-divisor / exact-integer double divisions — identical
        // IEEE ops both engines
        (col("lm_score_fp").cast("double") / lit(LmScale.toDouble)).as("lm_score"),
        (col("n_novel").cast("double") / col("n_bigrams").cast("double"))
          .as("novel_frac"))
  }

  // ─── t23 deterministic training-order shuffle ────────────────────────
  /** Target docs per shard. The shard count is data-derived —
    * max(16, ⌈n/[[ShardTarget]]⌉) — so a shard is a bounded-size unit
    * of work no matter the corpus size; that bound is what makes the
    * within-shard ordering window scale-safe (each window partition is
    * ≤ ~[[ShardTarget]] rows by construction, never corpus-sized).
    * 200 here keeps the small-SF fixtures exercising the data-scaled
    * branch (sf0.01 → 25 shards, sf0.1 → 250); a production run sets
    * this to its training-file size (10⁵-10⁶ docs).
    */
  private val ShardTarget = 200L

  /** t23: deterministic global shuffle into training shards — the
    * reproducible random ORDER a training run consumes (epoch-0 data
    * order), the piece t15's split (WHICH set) and t05's sampling
    * (WHICH docs) don't give. Every doc gets a 60-bit md5 shuffle key;
    * shard = key mod n_shards, position = rank of the key within the
    * shard. Same seed ⇒ byte-identical order on any cluster size;
    * reading shards 0..k-1 in position order replays the exact global
    * order any other consumer saw.
    *
    * Scale: the key is computed scan-side (codegen'd md5); sharding is
    * a hash mod — docs land uniformly, so shard sizes concentrate at
    * n/n_shards (±√ fluctuation) and the per-shard row_number window
    * sorts a BOUNDED partition (≤ ~[[ShardTarget]] rows — the shard
    * count grows with the data, the shard size doesn't). The 1-row
    * count frame rides a broadcast crossJoin (the Pipeline bounded-
    * frame rule). This is exactly how a production writer lays out
    * epoch files: shard = output file, position = row order within it.
    */
  def shuffleShard(spark: SparkSession, dir: String): DataFrame =
    shuffleShardOf(Tables.documents(spark, dir))

  private[graft] def shuffleShardOf(docs: DataFrame): DataFrame = {
    val keyed = docs.select(col("doc_id"),
      conv(substring(md5(concat_ws("_", col("doc_id"), lit("shuffle"))), 1, 15), 16, 10)
        .cast("long").as("h"))
    val nF = keyed.agg(count(lit(1)).as("n"))
      .select(expr(s"greatest(16L, (n + ${ShardTarget - 1}) div $ShardTarget)").as("n_shards"))
    keyed.crossJoin(broadcast(nF))
      .select(col("doc_id"), col("h"), (col("h") % col("n_shards")).as("shard"))
      .withColumn("pos",
        row_number().over(Window.partitionBy(col("shard"))
          .orderBy(col("h"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  private def shuffleShardSql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(concat_ws('_', doc_id, 'shuffle')), 1, 15)) AS BIGINT) AS h
       |  FROM documents),
       |nn AS (
       |  SELECT greatest(16, (count(*) + ${ShardTarget - 1}) // $ShardTarget) AS n_shards
       |  FROM keyed)
       |SELECT doc_id, h % n_shards AS shard,
       |       CAST(row_number() OVER (PARTITION BY h % n_shards ORDER BY h, doc_id) AS BIGINT) AS pos
       |FROM keyed, nn""".stripMargin

  // ─── t24 BPE merge-table training ────────────────────────────────────
  /** Unrolled BPE merge rounds. 6 keeps the oracle's CTE chain
    * readable (the q59 fixed-iteration discipline); the merge COUNT is
    * part of the operator's semantics — both engines replay the same
    * 6 rounds.
    */
  private val BpeMerges = 6

  /** t24: byte-pair-encoding merge-table training over the corpus —
    * the tokenizer-TRAINING operator (t03/t10 apply a tokenizer; t24
    * learns one). Classic word-level BPE: census the word vocabulary
    * once, represent each word as a spaced symbol sequence, then per
    * round (1) count adjacent symbol pairs weighted by word frequency,
    * (2) pick the most frequent pair (ties broken lexicographically —
    * count DESC, left, right), (3) merge every occurrence. The output
    * is the learned merge table (rank, pair, count) — the artifact a
    * BPE tokenizer ships.
    *
    * Merge rule (cross-engine contract): each round applies
    * `replace(seq, ' l r ', ' lr ')` TWICE — a left-to-right
    * non-overlapping scan whose consumed trailing space hides a
    * boundary-sharing next occurrence, which the second pass then
    * takes. For l ≠ r two passes provably reach every occurrence
    * (after pass 1, survivors are isolated); for runs of one repeated
    * symbol (length ≥ 5 — no such word here) the PAIRING may differ
    * from canonical greedy BPE while staying deterministic and
    * bit-identical in both engines (both scan the same way). That
    * determinism is the point: Spark and DuckDB can never disagree on
    * the learned table.
    *
    * Scale: the corpus is touched ONCE (word census — hash aggregation
    * with map-side combine); every round after that operates on the
    * VOCABULARY frame, which Heaps' law keeps sublinear in corpus size
    * (~10⁵-10⁶ rows at 100 TB). A round is one codegen'd map (apply
    * prior merges), one bounded explode (symbols/word), one hash
    * aggregation, and a 1-row top-1 reduce (TakeOrdered — the Pipeline
    * 1-row-gate pattern, like d26's banding decision); the winning
    * pair returns as a LITERAL into the next round's expression, so
    * the plan lineage stays linear in rounds, never exponential.
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrainOf(spark, Tables.documents(spark, dir))

  /** The one corpus pass: word census + spaced symbol sequence —
    * vocab-sized from here on, cached so the per-round jobs (t24) and
    * the application join (t25) rescan a vocab frame, never the
    * documents table (the session's post-query clearCache frees it).
    */
  private def bpeVocab(docs: DataFrame): DataFrame =
    docs
      .select(explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"),
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("seq"))
      .persist()

  /** The learned-merge fold: sequence column with `merges` applied in
    * order, each as the two-pass literal replace (the t24 merge rule).
    */
  private def applyMerges(merges: Seq[(Long, String, String, Long)]): Column =
    merges.foldLeft(col("seq")) { case (s, (_, l, r, _)) =>
      val (pat, rep) = (lit(s" $l $r "), lit(s" $l$r "))
      call_function("replace", call_function("replace", s, pat, rep), pat, rep)
    }

  private[graft] def bpeTrainOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    learnMerges(bpeVocab(docs))
      .toDF("merge_rank", "left_tok", "right_tok", "pair_count")
  }

  /** The t24 training loop over a cached vocab frame — also the front
    * half of t25's application (the tokenizer must be learned before
    * it can be applied).
    */
  private def learnMerges(wc: DataFrame): Seq[(Long, String, String, Long)] = {
    var merges = Seq.empty[(Long, String, String, Long)]
    var exhausted = false
    for (k <- 1 to BpeMerges if !exhausted) {
      // apply the merges learned so far as literal replaces (twice each)
      val seqK = applyMerges(merges)
      val top = wc.select(col("cnt"), split(trim(seqK), " ").as("t"))
        // single-symbol sequences have no adjacent pair; Spark's
        // sequence(1, 0) DESCENDS, so they must not reach the explode
        // (DuckDB's range(1, 1) is empty and skips them naturally)
        .filter(size(col("t")) >= 2)
        .select(col("cnt"), col("t"), explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
        .select(col("cnt"), element_at(col("t"), col("i")).as("l"),
          element_at(col("t"), col("i") + 1).as("r"))
        .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r")).limit(1)
        .collect()
      // a fully-merged vocab has no adjacent pairs left — stop with the
      // merges learned so far (the oracle's m{k}-empty rounds emit no
      // rows either: w{k} = prev × empty m{k} is empty from there on)
      if (top.isEmpty) exhausted = true
      else merges = merges :+
        ((k.toLong, top(0).getString(0), top(0).getString(1), top(0).getLong(2)))
    }
    merges
  }

  /** t25: apply the learned BPE tokenizer to the corpus — the
    * inference half of t24 (train) and the model-grounded sibling of
    * t03's regex token count: per doc, words, characters, post-merge
    * BPE tokens, and the chars-per-token compression the merge table
    * achieves. The pair closes the tokenizer loop: t24's merge table
    * is exactly what this operator consumes.
    *
    * Scale: the vocab is learned once on the cached census (t24's
    * loop); the application is a vocab-frame MAP (fold the merge
    * literals, count symbols — never re-tokenizing the corpus
    * per-round) followed by the corpus word explode joined to that
    * vocab on the word key (broadcastable; stats come from the cached
    * census) and one per-doc hash aggregation. The corpus is scanned
    * once; natural-language word skew ("the") is pre-aggregated into
    * ONE vocab row, so the join fans out, never concentrates.
    */
  def bpeApply(spark: SparkSession, dir: String): DataFrame =
    bpeApplyOf(Tables.documents(spark, dir))

  private[graft] def bpeApplyOf(docs: DataFrame): DataFrame = {
    val wc = bpeVocab(docs)
    val vocab = wc.select(col("word"),
      size(split(trim(applyMerges(learnMerges(wc))), " ")).cast("long").as("n_sym"))
    docs
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("word"))
      .join(vocab, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).as("n_chars"),
        sum(col("n_sym")).as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_tokens"),
        (col("n_chars").cast("double") / col("n_tokens")).as("chars_per_token"))
  }

  /** Shared oracle chain for t24/t25 — the identical unrolled merge
    * rounds; round CTEs are generated from [[BpeMerges]] so the
    * engines can never replay a different geometry. `m{k}` is round
    * k's winning pair (the same count-DESC-then-lexical top-1), `w{k}`
    * the vocab with that merge applied via the same two-pass replace.
    * The merge join is LEFT ... ON TRUE with a null-guard CASE so an
    * exhausted round (empty m{k}) passes the vocab through unchanged —
    * mirroring the Spark side's early stop — instead of collapsing the
    * chain to empty (which t24's union wouldn't notice but t25's
    * application join would).
    */
  private def bpeChainCtes: String = {
    val rounds = (1 to BpeMerges).map { k =>
      val prev = if (k == 1) "w0" else s"w${k - 1}"
      s"""p$k AS (
         |  SELECT t[CAST(i AS INT)] AS l, t[CAST(i AS INT) + 1] AS r,
         |         CAST(sum(cnt) AS BIGINT) AS pc
         |  FROM (SELECT cnt, t, CAST(unnest(range(1, len(t))) AS BIGINT) AS i
         |        FROM (SELECT cnt, string_split(trim(seq), ' ') AS t FROM $prev))
         |  GROUP BY 1, 2),
         |m$k AS (SELECT l, r, pc FROM p$k ORDER BY pc DESC, l, r LIMIT 1),
         |w$k AS (
         |  SELECT word, cnt,
         |         CASE WHEN m.l IS NULL THEN seq
         |              ELSE replace(replace(seq, ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r || ' '),
         |                           ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r || ' ')
         |         END AS seq
         |  FROM $prev LEFT JOIN m$k m ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH wcnt AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS word FROM documents)
       |  GROUP BY 1),
       |w0 AS (
       |  SELECT word, cnt, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
       |  FROM wcnt),
       |$rounds""".stripMargin
  }

  private def bpeTrainSql: String = {
    val out = (1 to BpeMerges).map { k =>
      s"SELECT $k AS merge_rank, l AS left_tok, r AS right_tok, pc AS pair_count FROM m$k"
    }.mkString("\nUNION ALL\n")
    s"$bpeChainCtes\n$out"
  }

  private def bpeApplySql: String =
    s"""$bpeChainCtes,
       |vocab AS (
       |  SELECT word, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS n_sym
       |  FROM w$BpeMerges),
       |dw AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS word
       |  FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(len(word)) AS BIGINT) AS n_chars,
       |       CAST(sum(n_sym) AS BIGINT) AS n_tokens,
       |       CAST(sum(len(word)) AS DOUBLE) / sum(n_sym) AS chars_per_token
       |FROM dw JOIN vocab USING (word) GROUP BY 1""".stripMargin

  // ─── t26/t27 learned quality model (closed-form linear probe) ────────
  /** Integer-exact regression features shared by t26 (train) and t27
    * (apply). The model is a LINEAR-PROBABILITY PROBE: regress a binary
    * weak keep-label on two interpretable doc features and read the
    * coefficients as the learned quality direction — the
    * train-a-cheap-classifier-on-weak-labels stage every large corpus
    * pipeline runs (fastText/logreg in the public pipelines), reduced
    * to its closed-form core so it is ONE aggregation pass at any
    * corpus size and the oracle can replay it exactly.
    *
    * Determinism: every feature and the label are INTEGERS (the token
    * cap, an integer-div punctuation permille, all-integer gate
    * comparisons), so the sufficient statistics are exact BIGINT sums —
    * order-independent under any partitioning. The 3×3 normal-equation
    * solve then runs in doubles with ONE hand-written Cramer expansion
    * whose parenthesization is identical in the Spark and DuckDB
    * expressions — the engine-replay discipline (both engines execute
    * the same IEEE op chain on the same exact inputs, so coefficients
    * match bit-for-bit; the d33 header search and the HITS
    * renormalization use the same rule).
    *
    * Scale: train is a map + one hash aggregation (9 bigint sums per
    * source — partial-aggregated map-side, bytes per source constant);
    * apply is a broadcast of the 1-row global model + a codegen'd
    * projection. No windows, no joins on doc keys, no driver math that
    * the plan depends on. Products are ≤ 10⁶ per row (both features
    * capped at 10³), so the sums hold to ~10¹² docs in a BIGINT.
    */
  private def probeFeatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n_chars"),
        wsTokenCount(col("text")).as("n_tokens"),
        patternCount(col("text"), "[^A-Za-z0-9\\s]").as("punct_count"),
        patternCount(lower(col("text")), langMarkers.head._2).as("stopword_count"))
      .filter(col("n_chars") > 0 && col("n_tokens") > 0)
      .select(col("doc_id"), col("source"),
        // x2 is STOPWORD permille, not punctuation: synthetic and
        // heavily-templated corpora (incl. the driver fixture) carry
        // zero punctuation, which would make the column constant and
        // X'X singular; stopword mass varies in any tokenized text.
        // Both features are hard-capped at 1000 so every pairwise
        // product is ≤ 10⁶ and the bigint sums hold to ~10¹² docs.
        least(col("n_tokens"), lit(1000L)).as("x1"),
        least(expr("(1000 * stopword_count) div n_tokens"), lit(1000L)).as("x2"),
        // the weak keep-gate: long enough, not punctuation-soup, carries
        // stopword mass — all-integer comparisons (ratio bars cleared by
        // cross-multiplication, never a float division)
        when(col("n_tokens") >= 50L &&
          lit(1000L) * col("punct_count") <= lit(200L) * col("n_chars") &&
          lit(20L) * col("stopword_count") >= col("n_tokens"), 1L)
          .otherwise(0L).as("y"))

  /** The nine sufficient statistics (exact bigint sums). */
  private def probeStats(feat: DataFrame, keys: Seq[String]): DataFrame = {
    val g = if (keys.isEmpty) feat.groupBy() else feat.groupBy(keys.map(col): _*)
    g.agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("s1"),
      sum(col("x2")).as("s2"),
      sum(col("y")).as("sy"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("x1") * col("y")).as("s1y"),
      sum(col("x2") * col("y")).as("s2y"))
  }

  /** Cramer solve + fit stats appended to a stats frame. The double
    * expression trees below are mirrored token-for-token in the oracle
    * SQL — edit BOTH or the replay breaks.
    */
  private def probeSolve(stats: DataFrame): DataFrame = {
    def d(c: String): Column = col(c).cast("double")
    val det = d("n") * (d("s11") * d("s22") - d("s12") * d("s12")) -
      d("s1") * (d("s1") * d("s22") - d("s12") * d("s2")) +
      d("s2") * (d("s1") * d("s12") - d("s11") * d("s2"))
    val det0 = d("sy") * (d("s11") * d("s22") - d("s12") * d("s12")) -
      d("s1") * (d("s1y") * d("s22") - d("s12") * d("s2y")) +
      d("s2") * (d("s1y") * d("s12") - d("s11") * d("s2y"))
    val det1 = d("n") * (d("s1y") * d("s22") - d("s12") * d("s2y")) -
      d("sy") * (d("s1") * d("s22") - d("s12") * d("s2")) +
      d("s2") * (d("s1") * d("s2y") - d("s1y") * d("s2"))
    val det2 = d("n") * (d("s11") * d("s2y") - d("s1y") * d("s12")) -
      d("s1") * (d("s1") * d("s2y") - d("s1y") * d("s2")) +
      d("sy") * (d("s1") * d("s12") - d("s11") * d("s2"))
    val safe = when(det === 0.0, lit(null)).otherwise(det)
    val b0 = det0 / safe
    val b1 = det1 / safe
    val b2 = det2 / safe
    // y is 0/1 so y'y = Σy; R² = 1 − SSE/SST with SSE = y'y − b'X'y
    val sse = d("sy") - (b0 * d("sy") + b1 * d("s1y") + b2 * d("s2y"))
    val sst = d("sy") - d("sy") * d("sy") / d("n")
    stats.select(
      stats.columns.map(col) :+
        b0.as("b0") :+ b1.as("b1") :+ b2.as("b2") :+
        (lit(1.0) - sse / when(sst === 0.0, lit(null)).otherwise(sst)).as("r2") :+
        // explicit unsolvable signal (round-11 advice): a singular X'X
        // (e.g. a constant feature column corpus-wide) yields NULL
        // coefficients; `solved` makes that state loud instead of
        // letting downstream when()-chains silently count zero
        (det =!= 0.0).as("solved"): _*)
  }

  /** t26: per-source closed-form quality probe — coefficients of the
    * linear-probability model per source (heterogeneous sources learn
    * visibly different stopword/length weights), plus the global fit
    * under source = '__all__'. A singular per-source X'X reports
    * solved = false with NULL coefficients (the explicit signal, not a
    * silent zero).
    */
  def qualityRegression(spark: SparkSession, dir: String): DataFrame = {
    val feat = probeFeatures(Tables.documents(spark, dir))
    val per = probeSolve(probeStats(feat, Seq("source")))
    val all = probeSolve(probeStats(feat, Seq.empty))
      .select(lit("__all__").as("source") +: per.columns.tail.map(col): _*)
    per.unionByName(all)
  }

  /** t27: score every doc with the GLOBAL t26 model (broadcast 1-row
    * coefficient frame, codegen'd projection) and report the per-source
    * confusion matrix of the linear probe against its own weak label —
    * the calibration census a pipeline reads before trusting the probe
    * as a sampler.
    */
  def qualityModelApply(spark: SparkSession, dir: String): DataFrame = {
    val feat = probeFeatures(Tables.documents(spark, dir))
    val model = probeSolve(probeStats(feat, Seq.empty))
      .select(col("b0"), col("b1"), col("b2"))
    val yhat = col("b0") + col("b1") * col("x1").cast("double") +
      col("b2") * col("x2").cast("double")
    feat.crossJoin(broadcast(model))
      .select(col("source"), col("y"), (yhat >= 0.5).as("pred"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pred") && col("y") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && col("y") === 0L, 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("y") === 1L, 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred") && col("y") === 0L, 1L).otherwise(0L)).as("tn"))
      .withColumn("accuracy",
        // NULL (not a silent 0.0) when the model was unsolvable: a NULL
        // pred falls through every when() above, so the four cells
        // summing short of n_docs is exactly the unsolved signature
        when(col("tp") + col("fp") + col("fn") + col("tn") === col("n_docs"),
          (col("tp") + col("tn")).cast("double") / col("n_docs").cast("double")))
  }

  // ─── t28/t29 hashed bag-of-ngrams ridge quality model ────────────────
  /** Ridge model dimensions: intercept + the two probe features +
    * punct permille + [[RidgeBuckets]] hashed-bigram count features —
    * the fastText-ish rung of the train-a-cheap-classifier stage
    * (t26's 2-feature probe is the rung below). Bucket counts cap at
    * 100 and permilles at 1000, so every pairwise feature product is
    * ≤ 10⁶ and the normal-equation sums stay exact BIGINTs to ~10¹²
    * docs.
    */
  private[graft] val RidgeBuckets = 28
  private[graft] val RidgeDims = 4 + RidgeBuckets
  /** Ridge penalty λ (added to every diagonal, intercept included —
    * a deliberate simplification, documented rather than special-cased:
    * with feature scales ≥ 1 and corpus sums ≫ λ the intercept shrink
    * is negligible, and λ > 0 makes X'X + λI strictly SPD, so the
    * Cholesky below never needs pivoting in EITHER engine).
    */
  private[graft] val RidgeLambda = 100.0

  private def ridgeFeatureName(i: Int): String = i match {
    case 0 => "intercept"
    case 1 => "tokens"
    case 2 => "stopword_pm"
    case 3 => "punct_pm"
    case j => f"gram_${j - 4}%02d"
  }

  /** Per-doc ridge feature row: doc_id, source, f0..f{K-1} (BIGINT),
    * y (the t26 weak keep-label — the ridge trains against the SAME
    * target as the probe, which is what makes t29's accuracy
    * comparison meaningful). ENTIRELY PER-ROW (round-12 rework): the
    * bigram bucket counts compute inside the row with higher-order
    * array functions (transform → filter-count per bucket) instead of
    * the first cut's explode + groupBy + join-back, which cost two
    * exchanges AND made the scorer stateful — per-row features are
    * what lets the SAME scoring expression serve a streaming
    * micro-batch unchanged (QualityStream, the deploy-the-model
    * stage). Bucket values are identical to the grouped form (same
    * md5-prefix split, the dsirFeats discipline both engines replay).
    */
  private[graft] def ridgeFeatures(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("source"), col("text"),
        length(col("text")).cast("long").as("n_chars"),
        wsTokenCount(col("text")).as("n_tokens"),
        patternCount(col("text"), "[^A-Za-z0-9\\s]").as("punct_count"),
        patternCount(lower(col("text")), langMarkers.head._2).as("stopword_count"))
      .filter(col("n_chars") > 0 && col("n_tokens") > 0)
    val withBuckets = base
      .withColumn("tk", regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)))
      .withColumn("bk",
        when(size(col("tk")) >= 2,
          transform(sequence(lit(1), size(col("tk")) - 1),
            i => conv(substring(md5(concat_ws(" ", element_at(col("tk"), i),
              element_at(col("tk"), i + 1))), 1, 4), 16, 10)
              .cast("long") % RidgeBuckets))
          .otherwise(array().cast("array<bigint>")))
    withBuckets.select(Seq(
      col("doc_id"), col("source"),
      lit(1L).as("f0"),
      least(col("n_tokens"), lit(1000L)).as("f1"),
      least(expr("(1000 * stopword_count) div n_tokens"), lit(1000L)).as("f2"),
      least(expr("(1000 * punct_count) div n_chars"), lit(1000L)).as("f3"),
      when(col("n_tokens") >= 50L &&
        lit(1000L) * col("punct_count") <= lit(200L) * col("n_chars") &&
        lit(20L) * col("stopword_count") >= col("n_tokens"), 1L)
        .otherwise(0L).as("y")) ++
      (0 until RidgeBuckets).map(j =>
        least(size(filter(col("bk"), x => x === j)).cast("long"), lit(100L))
          .as(s"f${4 + j}")): _*)
  }

  /** Score an arbitrary docs frame with a FROZEN ridge model (t28's
    * driver-solved coefficients folded in as literals) — per-row and
    * stateless end to end, so the identical expression serves a
    * streaming micro-batch (QualityStream) and the batch corpus alike.
    */
  private[graft] def ridgeScore(docs: DataFrame, b: Array[Double]): DataFrame = {
    require(b.length == RidgeDims, s"ridge model must have $RidgeDims dims")
    val yhat = (1 until RidgeDims).foldLeft(lit(b(0)): Column)((acc, j) =>
      acc + lit(b(j)) * col(s"f$j").cast("double"))
    ridgeFeatures(docs)
      .select(col("doc_id"), col("source"), col("y").as("weak_label"),
        yhat.as("score"), (yhat >= 0.5).as("keep"))
  }

  /** Normal-equation sums (K(K+1)/2 upper-triangle X'X entries + K X'y
    * entries, all exact BIGINTs — order-independent under any
    * partitioning) collected in ONE aggregation pass, then
    * (X'X + λI) b = X'y Cholesky-solved ON THE DRIVER — the MLlib
    * normal-equation shape (WeightedLeastSquares does exactly this
    * collect-and-solve), and the t24 discipline: data-derived scalars
    * fold back into the plan as literals. The solve is a fixed IEEE
    * op chain (left-to-right subtraction folds, correctly-rounded
    * sqrt/div) that the oracle SQL replays token-for-token as an
    * unrolled CTE chain over ITS OWN identical integer sums, so the
    * coefficients match bit-for-bit — the probeSolve engine-replay
    * rule, scaled from a 3×3 Cramer expansion to a K×K Cholesky.
    */
  private[graft] def ridgeSolve(feats: DataFrame): Array[Double] = {
    val K = RidgeDims
    val aggCols =
      (for { i <- 0 until K; j <- i until K } yield
        sum(col(s"f$i") * col(s"f$j")).as(s"a_${i}_$j")) ++
        (0 until K).map(i => sum(col(s"f$i") * col("y")).as(s"c_$i"))
    val row = feats.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    require(!row.isNullAt(0) && row.getLong(0) > 0, "ridge: empty corpus")
    val nTri = K * (K + 1) / 2
    val triIdx = Array.ofDim[Int](K, K)
    var k = 0
    for { i <- 0 until K; j <- i until K } {
      triIdx(i)(j) = k; triIdx(j)(i) = k; k += 1
    }
    def a(i: Int, j: Int): Double = row.getLong(triIdx(i)(j)).toDouble
    def cv(i: Int): Double = row.getLong(nTri + i).toDouble
    val l = Array.ofDim[Double](K, K)
    var j = 0
    while (j < K) {
      var s = a(j, j) + RidgeLambda
      var t = 0
      while (t < j) { s = s - l(j)(t) * l(j)(t); t += 1 }
      l(j)(j) = math.sqrt(s)
      var i = j + 1
      while (i < K) {
        var si = a(i, j)
        var t2 = 0
        while (t2 < j) { si = si - l(i)(t2) * l(j)(t2); t2 += 1 }
        l(i)(j) = si / l(j)(j)
        i += 1
      }
      j += 1
    }
    val z = new Array[Double](K)
    j = 0
    while (j < K) {
      var s = cv(j)
      var t = 0
      while (t < j) { s = s - l(j)(t) * z(t); t += 1 }
      z(j) = s / l(j)(j)
      j += 1
    }
    val b = new Array[Double](K)
    j = K - 1
    while (j >= 0) {
      var s = z(j)
      var t = j + 1
      while (t < K) { s = s - l(t)(j) * b(t); t += 1 }
      b(j) = s / l(j)(j)
      j -= 1
    }
    b
  }

  /** t28: the trained ridge model — one (feature_idx, feature, coef)
    * row per dimension. Scale: one corpus feature pass + one 560-sum
    * aggregation (map-side combining, constant bytes per partition);
    * the K×K solve is O(K³) ≈ 11k flops on the driver — model-sized,
    * like collecting MLlib's solved WLS coefficients.
    */
  def qualityRidge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b = ridgeSolve(ridgeFeatures(Tables.documents(spark, dir)))
    b.zipWithIndex.toSeq
      .map { case (v, i) => (i.toLong, ridgeFeatureName(i), v) }
      .toDF("feature_idx", "feature", "coef")
  }

  /** t29: score every doc with the t28 ridge AND the t26 2-feature
    * probe against the shared weak label — the per-source confusion
    * census with BOTH models' accuracy side by side (the calibration
    * read a pipeline takes before promoting the bigger model; the
    * ridge nests the probe's features plus the label's punctuation
    * signal, so it should dominate — RidgeSpec asserts it does on the
    * fixture). probe_accuracy is NULL when the probe was unsolvable
    * (the t27 explicit-signal rule).
    */
  def ridgeApply(spark: SparkSession, dir: String): DataFrame = {
    // the feature frame has THREE consumers (the ridge solve's 560-sum
    // collect, the probe solve's 9-sum collect, and the final confusion
    // scan) — unpersisted, the regex/bigram feature derivation (the
    // family's dominant CPU) ran three times per query. Narrow
    // (34 ints/doc); MEMORY_AND_DISK; released by the harness's
    // per-query clearCache. Round-14 A/B at sf0.1 read 3.6 → 2.7 s
    // solo-warm, inside the window's ±40% host noise — kept on the
    // structural argument (strictly fewer feature passes; at corpus
    // scale three text scans → one is the dominant term and the
    // 34-int cache row spills gracefully).
    // Round-15 adjudication (the r14 verdict's watch item): calm-window
    // interleaved A/B, 5-6 reps/side ×2 rounds — t29 persist 2.57/2.35
    // vs no-persist 2.41/3.16 warm s (t30 2.26/2.25 vs 2.18/2.63): run
    // order dominates, the persisted rows sit at-or-under their r13
    // driver baselines (2.57/2.28). KEPT on the same scale argument.
    val feats = ridgeFeatures(Tables.documents(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = ridgeSolve(feats)
    val yhat = (1 until RidgeDims).foldLeft(lit(b(0)): Column)((acc, j) =>
      acc + lit(b(j)) * col(s"f$j").cast("double"))
    val probeModel = probeSolve(probeStats(
      feats.select(col("f1").as("x1"), col("f2").as("x2"), col("y")), Seq.empty))
      .select(col("b0"), col("b1"), col("b2"))
    feats.crossJoin(broadcast(probeModel))
      .select(col("source"), col("y"),
        (yhat >= 0.5).as("pred"),
        ((col("b0") + col("b1") * col("f1").cast("double") +
          col("b2") * col("f2").cast("double")) >= 0.5).as("probe_pred"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pred") && col("y") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && col("y") === 0L, 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("y") === 1L, 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred") && col("y") === 0L, 1L).otherwise(0L)).as("tn"),
        sum(when(col("probe_pred").isNull, 1L).otherwise(0L)).as("n_probe_null"),
        sum(when(col("probe_pred") === (col("y") === 1L), 1L).otherwise(0L))
          .as("n_probe_correct"))
      .select(col("source"), col("n_docs"), col("tp"), col("fp"), col("fn"),
        col("tn"),
        ((col("tp") + col("tn")).cast("double") / col("n_docs").cast("double"))
          .as("accuracy"),
        when(col("n_probe_null") === 0L,
          col("n_probe_correct").cast("double") / col("n_docs").cast("double"))
          .as("probe_accuracy"))
  }

  /** t30: the ridge's OPERATING-POINT sweep — per decision threshold
    * τ ∈ {0.1 … 0.9}, the corpus-wide confusion census plus
    * precision / recall / accuracy of "keep doc iff ŷ ≥ τ" against
    * the weak label. This is the curve a pipeline reads to pick its
    * keep-rate / purity trade before wiring the model into t07-style
    * pruning — the same close-the-tuning-loop rung d24/d26/d27 give
    * the LSH banding. Thresholds derive as k/10 in DOUBLE arithmetic
    * (identical IEEE divide both engines); precision/recall go NULL
    * (not 0) on empty denominators, the t26/t27 explicit-signal rule.
    *
    * Scale: ONE feature pass — the scored frame cross-joins the
    * 9-row broadcast threshold frame and aggregates by threshold
    * (map-side combining, 9 groups); the ridge solve is the t28
    * driver literal. No windows, no doc-key joins.
    */
  def ridgeThresholds(spark: SparkSession, dir: String): DataFrame = {
    // two consumers (solve collect + the threshold sweep scan) — same
    // persist rationale as ridgeApply
    val feats = ridgeFeatures(Tables.documents(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = ridgeSolve(feats)
    val yhat = (1 until RidgeDims).foldLeft(lit(b(0)): Column)((acc, j) =>
      acc + lit(b(j)) * col(s"f$j").cast("double"))
    val spark2 = feats.sparkSession
    import spark2.implicits._
    val thresholds = (1 to 9).toDF("k")
      .select((col("k").cast("double") / lit(10.0)).as("threshold"))
    feats.select(col("y"), yhat.as("yhat"))
      .crossJoin(broadcast(thresholds))
      .groupBy(col("threshold"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("yhat") >= col("threshold") && col("y") === 1L, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("yhat") >= col("threshold") && col("y") === 0L, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("yhat") < col("threshold") && col("y") === 1L, 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("yhat") < col("threshold") && col("y") === 0L, 1L)
          .otherwise(0L)).as("tn"))
      .select(col("threshold"), col("n_docs"), col("tp"), col("fp"),
        col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0L,
          col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("precision"),
        when(col("tp") + col("fn") > 0L,
          col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
          .as("recall"),
        ((col("tp") + col("tn")).cast("double") / col("n_docs").cast("double"))
          .as("accuracy"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t28_quality_ridge" -> qualityRidge,
    "t29_ridge_apply" -> ridgeApply,
    "t30_ridge_thresholds" -> ridgeThresholds,
    "t23_shuffle_shard" -> shuffleShard,
    "t24_bpe_train" -> bpeTrain,
    "t25_bpe_apply" -> bpeApply,
    "t22_bigram_lm_score" -> bigramLmScore,
    "t21_chunk_documents" -> chunkDocuments,
    "t16_dsir_weights" -> dsirWeights,
    "t18_dsir_per_source" -> dsirWeightsPerSource,
    "t17_dsir_select" -> dsirSelect,
    "t19_dsir_select_per_source" -> dsirSelectPerSource,
    "t13_boilerplate" -> ((s: SparkSession, d: String) => boilerplateCensus(s, d)),
    "t14_pii_scrub" -> piiScrub,
    "t15_hash_split" -> hashSplit,
    "t01_lang_id" -> langId,
    "t02_quality_score" -> qualityScore,
    "t03_token_count" -> tokenCount,
    "t04_fingerprint" -> fingerprintDocs,
    "t05_hash_sample" -> hashSample,
    "t06_repetition_stats" -> repetitionStats,
    "t07_quality_prune" -> qualityPrune,
    "t08_token_budget_sample" -> tokenBudgetSample,
    "t11_mixture_resample" -> mixtureResample,
    "t20_alpha_mixture" -> alphaMixture,
    "t12_pack_sequences" -> ((s: SparkSession, d: String) => packSequences(s, d)),
    "t09_tfidf_keywords" -> tfidfKeywords,
    "t10_vocab_coverage" -> vocabCoverage,
    "t26_quality_regression" -> qualityRegression,
    "t27_quality_model_apply" -> qualityModelApply,
    "q33_corpus_stats" -> corpusStats)

  private val docQuality =
    """  SELECT doc_id,
      |         CAST(length(text) AS BIGINT) AS n_chars,
      |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
      |         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS punct_count,
      |         CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS digit_count,
      |         CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS BIGINT) AS stopword_count
      |  FROM documents""".stripMargin

  // shared DSIR oracle CTEs (t16 scoring machinery, through `scored`)
  /** Shared t18/t19 oracle prefix: per-(source, bucket) Laplace-ratio
    * scoring replayed in HUGEINT fixed point.
    */
  private val dsirPerSourceCte =
    """WITH w AS (
      |  SELECT doc_id, source, lang = 'en' AS is_target,
      |         regexp_extract_all(text, '\S+') AS t
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, source, is_target,
      |         CAST(('0x' || substr(md5(t[CAST(i AS INT)] || ' '
      |                || t[CAST(i AS INT) + 1]), 1, 4)) AS BIGINT) % 1024 AS bucket
      |  FROM (SELECT doc_id, source, is_target, t, unnest(range(1, len(t))) AS i
      |        FROM w WHERE len(t) >= 2)),
      |cf AS (
      |  SELECT doc_id, source, is_target, bucket, CAST(count(*) AS BIGINT) AS c
      |  FROM f GROUP BY 1, 2, 3, 4),
      |census AS (
      |  SELECT source, bucket, CAST(sum(c) AS BIGINT) AS r_b,
      |         CAST(sum(CASE WHEN is_target THEN c ELSE 0 END) AS BIGINT) AS t_b
      |  FROM cf GROUP BY 1, 2),
      |tot AS (
      |  SELECT source, CAST(sum(r_b) AS BIGINT) AS rr, CAST(sum(t_b) AS BIGINT) AS tt
      |  FROM census GROUP BY 1),
      |scored AS (
      |  SELECT source, bucket,
      |         (CAST(t_b + 1 AS HUGEINT) * (rr + 1024) * 2000000
      |            + CAST(r_b + 1 AS HUGEINT) * (tt + 1024))
      |           // (2 * CAST(r_b + 1 AS HUGEINT) * (tt + 1024)) AS r6
      |  FROM census JOIN tot USING (source))""".stripMargin

  private val dsirCte =
    """WITH w AS (
      |  SELECT doc_id, lang = 'en' AS is_target,
      |         regexp_extract_all(text, '\S+') AS t
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, is_target,
      |         CAST(('0x' || substr(md5(t[CAST(i AS INT)] || ' '
      |                || t[CAST(i AS INT) + 1]), 1, 4)) AS BIGINT) % 1024 AS bucket
      |  FROM (SELECT doc_id, is_target, t, unnest(range(1, len(t))) AS i
      |        FROM w WHERE len(t) >= 2)),
      |cf AS (
      |  SELECT doc_id, is_target, bucket, CAST(count(*) AS BIGINT) AS c
      |  FROM f GROUP BY 1, 2, 3),
      |census AS (
      |  SELECT bucket, CAST(sum(c) AS BIGINT) AS r_b,
      |         CAST(sum(CASE WHEN is_target THEN c ELSE 0 END) AS BIGINT) AS t_b
      |  FROM cf GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(r_b) AS BIGINT) AS rr, CAST(sum(t_b) AS BIGINT) AS tt
      |  FROM census),
      |scored AS (
      |  SELECT bucket,
      |         (CAST(t_b + 1 AS HUGEINT) * (rr + 1024) * 2000000
      |            + CAST(r_b + 1 AS HUGEINT) * (tt + 1024))
      |           // (2 * CAST(r_b + 1 AS HUGEINT) * (tt + 1024)) AS r6
      |  FROM census CROSS JOIN tot)""".stripMargin

  // ─── t26/t27 oracle machinery ─────────────────────────────────────────
  /** Shared t26/t27 oracle CTEs through the per-doc integer features. */
  private val probeFeatureCtes =
    """q AS (
      |  SELECT doc_id, source,
      |         CAST(length(text) AS BIGINT) AS n_chars,
      |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
      |         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS punct_count,
      |         CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS BIGINT) AS stopword_count
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, source,
      |         least(n_tokens, 1000) AS x1,
      |         least((1000 * stopword_count) // n_tokens, 1000) AS x2,
      |         CASE WHEN n_tokens >= 50 AND 1000 * punct_count <= 200 * n_chars
      |                   AND 20 * stopword_count >= n_tokens
      |              THEN 1 ELSE 0 END AS y
      |  FROM q WHERE n_chars > 0 AND n_tokens > 0)""".stripMargin

  /** The nine sufficient statistics as a SELECT tail (no GROUP BY). */
  private val probeSumsSql =
    """CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
      |       CAST(sum(y) AS BIGINT) AS sy,
      |       CAST(sum(x1 * x1) AS BIGINT) AS s11,
      |       CAST(sum(x1 * x2) AS BIGINT) AS s12,
      |       CAST(sum(x2 * x2) AS BIGINT) AS s22,
      |       CAST(sum(x1 * y) AS BIGINT) AS s1y,
      |       CAST(sum(x2 * y) AS BIGINT) AS s2y""".stripMargin

  /** The Cramer expansions, generated so the SQL trees mirror
    * [[probeSolve]]'s Column trees token-for-token (the engine-replay
    * rule: same exact integer inputs + same IEEE op order = identical
    * double coefficients).
    */
  private def probeCramer: (String, String, String, String) = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val det = s"${d("n")} * (${d("s11")} * ${d("s22")} - ${d("s12")} * ${d("s12")})" +
      s" - ${d("s1")} * (${d("s1")} * ${d("s22")} - ${d("s12")} * ${d("s2")})" +
      s" + ${d("s2")} * (${d("s1")} * ${d("s12")} - ${d("s11")} * ${d("s2")})"
    val det0 = s"${d("sy")} * (${d("s11")} * ${d("s22")} - ${d("s12")} * ${d("s12")})" +
      s" - ${d("s1")} * (${d("s1y")} * ${d("s22")} - ${d("s12")} * ${d("s2y")})" +
      s" + ${d("s2")} * (${d("s1y")} * ${d("s12")} - ${d("s11")} * ${d("s2y")})"
    val det1 = s"${d("n")} * (${d("s1y")} * ${d("s22")} - ${d("s12")} * ${d("s2y")})" +
      s" - ${d("sy")} * (${d("s1")} * ${d("s22")} - ${d("s12")} * ${d("s2")})" +
      s" + ${d("s2")} * (${d("s1")} * ${d("s2y")} - ${d("s1y")} * ${d("s2")})"
    val det2 = s"${d("n")} * (${d("s11")} * ${d("s2y")} - ${d("s1y")} * ${d("s12")})" +
      s" - ${d("s1")} * (${d("s1")} * ${d("s2y")} - ${d("s1y")} * ${d("s2")})" +
      s" + ${d("sy")} * (${d("s1")} * ${d("s12")} - ${d("s11")} * ${d("s2")})"
    (det, det0, det1, det2)
  }

  /** b0/b1/b2/r2 as a SELECT fragment over a stats relation. */
  private def probeSolveSql: String = {
    val (det, det0, det1, det2) = probeCramer
    val safe = s"(CASE WHEN ($det) = 0.0 THEN NULL ELSE ($det) END)"
    val b0 = s"(($det0) / $safe)"
    val b1 = s"(($det1) / $safe)"
    val b2 = s"(($det2) / $safe)"
    val sse = s"(CAST(sy AS DOUBLE) - ($b0 * CAST(sy AS DOUBLE) + $b1 * CAST(s1y AS DOUBLE) + $b2 * CAST(s2y AS DOUBLE)))"
    val sst = s"(CAST(sy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    s"""$b0 AS b0, $b1 AS b1, $b2 AS b2,
       |       1.0 - $sse / (CASE WHEN $sst = 0.0 THEN NULL ELSE $sst END) AS r2,
       |       ($det) <> 0.0 AS solved""".stripMargin
  }

  private def qualityRegressionSql: String =
    s"""WITH $probeFeatureCtes,
       |s AS (
       |  SELECT source, $probeSumsSql
       |  FROM f GROUP BY 1
       |  UNION ALL
       |  SELECT '__all__' AS source, $probeSumsSql
       |  FROM f)
       |SELECT source, n, s1, s2, sy, s11, s12, s22, s1y, s2y,
       |       $probeSolveSql
       |FROM s""".stripMargin

  private def qualityModelApplySql: String =
    s"""WITH $probeFeatureCtes,
       |g AS (
       |  SELECT $probeSumsSql
       |  FROM f),
       |m AS (
       |  SELECT $probeSolveSql
       |  FROM g),
       |p AS (
       |  SELECT source, y,
       |         (b0 + b1 * CAST(x1 AS DOUBLE) + b2 * CAST(x2 AS DOUBLE)) >= 0.5 AS pred
       |  FROM f, m),
       |c AS (
       |  SELECT source,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |         CAST(sum(CASE WHEN pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |         CAST(sum(CASE WHEN NOT pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |         CAST(sum(CASE WHEN NOT pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM p GROUP BY 1)
       |SELECT source, n_docs, tp, fp, fn, tn,
       |       CASE WHEN tp + fp + fn + tn = n_docs
       |            THEN CAST(tp + tn AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |       END AS accuracy
       |FROM c""".stripMargin

  // ─── t28/t29 oracle machinery ─────────────────────────────────────────
  /** Ridge feature CTEs (through `f`): the Spark [[ridgeFeatures]]
    * replayed — same tokenization, same md5 bucket split (the dsir
    * parity), same caps, same weak label.
    */
  private def ridgeFeatureCtes: String = {
    val bucketCols = (0 until RidgeBuckets).map(j =>
      s"least(CAST(sum(CASE WHEN bucket = $j THEN 1 ELSE 0 END) AS BIGINT), 100) AS g$j")
      .mkString(",\n         ")
    val fCols = (0 until RidgeBuckets).map(j => s"coalesce(g$j, 0) AS f${4 + j}")
      .mkString(", ")
    s"""rq AS (
       |  SELECT doc_id, source, text,
       |         CAST(length(text) AS BIGINT) AS n_chars,
       |         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
       |         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS punct_count,
       |         CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in)\\b')) AS BIGINT) AS stopword_count
       |  FROM documents),
       |fb AS (
       |  SELECT doc_id, source, n_chars, n_tokens, punct_count, stopword_count
       |  FROM rq WHERE n_chars > 0 AND n_tokens > 0),
       |bg AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]), 1, 4)) AS BIGINT) % $RidgeBuckets AS bucket
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t,
       |               unnest(range(1, CAST(n_tokens AS INT))) AS i
       |        FROM rq WHERE n_chars > 0 AND n_tokens >= 2)),
       |bc AS (
       |  SELECT doc_id,
       |         $bucketCols
       |  FROM bg GROUP BY 1),
       |f AS (
       |  SELECT fb.doc_id, fb.source,
       |         CAST(1 AS BIGINT) AS f0,
       |         least(n_tokens, 1000) AS f1,
       |         least((1000 * stopword_count) // n_tokens, 1000) AS f2,
       |         least((1000 * punct_count) // n_chars, 1000) AS f3,
       |         $fCols,
       |         CASE WHEN n_tokens >= 50 AND 1000 * punct_count <= 200 * n_chars
       |                   AND 20 * stopword_count >= n_tokens
       |              THEN 1 ELSE 0 END AS y
       |  FROM fb LEFT JOIN bc USING (doc_id))""".stripMargin
  }

  /** The 560 normal-equation sums as a 1-row CTE. */
  private def ridgeSumsSql: String = {
    val K = RidgeDims
    val as = (for { i <- 0 until K; j <- i until K } yield
      s"CAST(sum(f$i * f$j) AS BIGINT) AS a_${i}_$j").mkString(",\n         ")
    val cs = (0 until K).map(i => s"CAST(sum(f$i * y) AS BIGINT) AS c_$i")
      .mkString(",\n         ")
    s"s AS (\n  SELECT $as,\n         $cs\n  FROM f)"
  }

  /** Unrolled Cholesky + forward/back substitution as a chained-CTE
    * pipeline over the 1-row sums frame — each CTE adds the columns
    * one elimination level computes, and every subtraction fold is
    * written LEFT-ASSOCIATIVE so the IEEE op order matches
    * [[ridgeSolve]]'s while-loops exactly (the engine-replay rule;
    * sqrt and division are correctly rounded in both engines by
    * IEEE 754). Returns (ctes, finalCteName); the final CTE carries
    * b_0..b_{K-1}.
    */
  private def ridgeCholSql: (String, String) = {
    val K = RidgeDims
    def a(i: Int, j: Int) =
      if (i <= j) s"CAST(a_${i}_$j AS DOUBLE)" else s"CAST(a_${j}_$i AS DOUBLE)"
    val sb = new StringBuilder
    var prev = "s"
    for (j <- 0 until K) {
      val dsub = (0 until j).map(t => s" - l_${j}_$t * l_${j}_$t").mkString
      sb.append(s"d$j AS (SELECT *, sqrt((${a(j, j)} + $RidgeLambda)$dsub) AS l_${j}_$j FROM $prev),\n")
      prev = s"d$j"
      if (j < K - 1) {
        val cols = (j + 1 until K).map { i =>
          val isub = (0 until j).map(t => s" - l_${i}_$t * l_${j}_$t").mkString
          s"(${a(i, j)}$isub) / l_${j}_$j AS l_${i}_$j"
        }.mkString(",\n       ")
        sb.append(s"o$j AS (SELECT *,\n       $cols FROM $prev),\n")
        prev = s"o$j"
      }
    }
    for (j <- 0 until K) {
      val zsub = (0 until j).map(t => s" - l_${j}_$t * z_$t").mkString
      sb.append(s"w$j AS (SELECT *, (CAST(c_$j AS DOUBLE)$zsub) / l_${j}_$j AS z_$j FROM $prev),\n")
      prev = s"w$j"
    }
    for (j <- K - 1 to 0 by -1) {
      val bsub = (j + 1 until K).map(t => s" - l_${t}_$j * b_$t").mkString
      sb.append(s"v$j AS (SELECT *, (z_$j$bsub) / l_${j}_$j AS b_$j FROM $prev),\n")
      prev = s"v$j"
    }
    (sb.toString.stripSuffix(",\n"), prev)
  }

  private def qualityRidgeSql: String = {
    val (chol, fin) = ridgeCholSql
    val rows = (0 until RidgeDims).map(i =>
      s"SELECT CAST($i AS BIGINT) AS feature_idx, '${ridgeFeatureName(i)}' AS feature, b_$i AS coef FROM $fin")
      .mkString("\nUNION ALL\n")
    s"WITH $ridgeFeatureCtes,\n$ridgeSumsSql,\n$chol\n$rows"
  }

  /** Per-doc train+score replay for the stream_quality driver row: the
    * identical generated Cholesky chain, final select = one scored row
    * per document (the rows QualityStream's serving sink holds) — same
    * left-associative score fold as [[ridgeScore]], bit-identical.
    */
  private[graft] def ridgeScoreSql: String = {
    val (chol, fin) = ridgeCholSql
    val yhat = (1 until RidgeDims).map(j => s" + b_$j * CAST(f$j AS DOUBLE)").mkString
    s"""WITH $ridgeFeatureCtes,
       |$ridgeSumsSql,
       |$chol
       |SELECT f.doc_id, f.source, CAST(f.y AS BIGINT) AS weak_label,
       |       (b_0$yhat) AS score, (b_0$yhat) >= 0.5 AS keep
       |FROM f, $fin""".stripMargin
  }

  private def ridgeApplySql: String = {
    val (chol, fin) = ridgeCholSql
    val yhat = (1 until RidgeDims).map(j => s" + b_$j * CAST(f$j AS DOUBLE)").mkString
    s"""WITH $ridgeFeatureCtes,
       |$ridgeSumsSql,
       |$chol,
       |px AS (SELECT f1 AS x1, f2 AS x2, y FROM f),
       |ps AS (
       |  SELECT $probeSumsSql
       |  FROM px),
       |pm AS (
       |  SELECT $probeSolveSql
       |  FROM ps),
       |sc AS (
       |  SELECT f.source, f.y,
       |         (b_0$yhat) >= 0.5 AS pred,
       |         (b0 + b1 * CAST(f1 AS DOUBLE) + b2 * CAST(f2 AS DOUBLE)) >= 0.5 AS probe_pred
       |  FROM f, $fin, pm),
       |c AS (
       |  SELECT source,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |         CAST(sum(CASE WHEN pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |         CAST(sum(CASE WHEN NOT pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |         CAST(sum(CASE WHEN NOT pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |         CAST(sum(CASE WHEN probe_pred IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_probe_null,
       |         CAST(sum(CASE WHEN probe_pred = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_probe_correct
       |  FROM sc GROUP BY 1)
       |SELECT source, n_docs, tp, fp, fn, tn,
       |       CAST(tp + tn AS DOUBLE) / CAST(n_docs AS DOUBLE) AS accuracy,
       |       CASE WHEN n_probe_null = 0
       |            THEN CAST(n_probe_correct AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |       END AS probe_accuracy
       |FROM c""".stripMargin
  }

  private def ridgeThresholdsSql: String = {
    val (chol, fin) = ridgeCholSql
    val yhat = (1 until RidgeDims).map(j => s" + b_$j * CAST(f$j AS DOUBLE)").mkString
    s"""WITH $ridgeFeatureCtes,
       |$ridgeSumsSql,
       |$chol,
       |th AS (SELECT CAST(k AS DOUBLE) / 10.0 AS threshold
       |       FROM (SELECT unnest(range(1, 10)) AS k)),
       |sc AS (SELECT f.y, (b_0$yhat) AS yhat FROM f, $fin),
       |c AS (
       |  SELECT threshold,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(CASE WHEN yhat >= threshold AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |         CAST(sum(CASE WHEN yhat >= threshold AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |         CAST(sum(CASE WHEN yhat < threshold AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |         CAST(sum(CASE WHEN yhat < threshold AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM sc CROSS JOIN th GROUP BY 1)
       |SELECT threshold, n_docs, tp, fp, fn, tn,
       |       CASE WHEN tp + fp > 0
       |            THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
       |       CASE WHEN tp + fn > 0
       |            THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
       |       CAST(tp + tn AS DOUBLE) / CAST(n_docs AS DOUBLE) AS accuracy
       |FROM c""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "t28_quality_ridge" -> qualityRidgeSql,
    "t29_ridge_apply" -> ridgeApplySql,
    "t30_ridge_thresholds" -> ridgeThresholdsSql,
    "t26_quality_regression" -> qualityRegressionSql,
    "t27_quality_model_apply" -> qualityModelApplySql,
    "t23_shuffle_shard" -> shuffleShardSql,
    "t24_bpe_train" -> bpeTrainSql,
    "t25_bpe_apply" -> bpeApplySql,
    "t22_bigram_lm_score" ->
      s"""WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
         |             FROM documents WHERE len(regexp_extract_all(lower(text), '\\S+')) >= 2),
         |pos AS (SELECT doc_id, t, CAST(unnest(range(1, len(t))) AS BIGINT) AS i FROM tok),
         |occ AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5(t[CAST(i AS INT)]), 1, 15)) AS BIGINT) AS h1,
         |         CAST(('0x' || substr(md5(t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]), 1, 15)) AS BIGINT) AS h12,
         |         CAST(count(*) AS BIGINT) AS m
         |  FROM pos GROUP BY 1, 2, 3),
         |c12 AS (SELECT h12, CAST(sum(m) AS BIGINT) AS c12 FROM occ GROUP BY 1),
         |c1 AS (SELECT h1, CAST(sum(m) AS BIGINT) AS c1 FROM occ GROUP BY 1),
         |sc AS (
         |  SELECT o.doc_id, o.m, ($LmScale * b.c12) // u.c1 AS p_fp,
         |         CASE WHEN b.c12 = 1 THEN o.m ELSE 0 END AS novel
         |  FROM occ o JOIN c12 b USING (h12) JOIN c1 u USING (h1)),
         |per AS (
         |  SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
         |         CAST(sum(m * p_fp) // sum(m) AS BIGINT) AS lm_score_fp,
         |         CAST(sum(novel) AS BIGINT) AS n_novel
         |  FROM sc GROUP BY 1)
         |SELECT doc_id, n_bigrams, lm_score_fp, n_novel,
         |       CAST(lm_score_fp AS DOUBLE) / ${LmScale.toDouble} AS lm_score,
         |       CAST(n_novel AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS novel_frac
         |FROM per""".stripMargin,
    "t21_chunk_documents" ->
      s"""WITH tok AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
         |nn AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n FROM tok WHERE len(t) >= 1),
         |ch AS (SELECT doc_id, t, n,
         |         CAST(unnest(range(0, (greatest(n - $ChunkLen, 0) + ${ChunkStride - 1}) // $ChunkStride + 1)) AS BIGINT) AS chunk_id
         |       FROM nn),
         |st AS (SELECT doc_id, chunk_id, chunk_id * $ChunkStride + 1 AS chunk_start, t, n FROM ch)
         |SELECT doc_id, chunk_id, chunk_start,
         |       least(chunk_start + ${ChunkLen - 1}, n) - chunk_start + 1 AS n_chunk_tokens,
         |       array_to_string(t[CAST(chunk_start AS INT):CAST(least(chunk_start + ${ChunkLen - 1}, n) AS INT)], ' ') AS chunk_text
         |FROM st""".stripMargin,
    "t18_dsir_per_source" ->
      (dsirPerSourceCte +
      """
        |SELECT cf.doc_id, cf.source, CAST(sum(cf.c) AS BIGINT) AS n_bigrams,
        |       CAST(sum(cf.c * s.r6) AS DOUBLE) / 1000000.0 AS weight
        |FROM cf JOIN scored s USING (source, bucket)
        |GROUP BY 1, 2""".stripMargin),
    "t19_dsir_select_per_source" ->
      (dsirPerSourceCte +
      """,
        |wts AS (
        |  SELECT cf.doc_id, cf.source,
        |         CAST(sum(cf.c * s.r6) AS DOUBLE) / 1000000.0 AS weight
        |  FROM cf JOIN scored s USING (source, bucket)
        |  GROUP BY 1, 2),
        |tk AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |d AS (
        |  SELECT wts.doc_id, wts.source, tk.n_tokens, wts.weight,
        |         CAST(round(wts.weight * 1000000) AS BIGINT) AS wfp
        |  FROM wts JOIN tk USING (doc_id)),
        |o AS (
        |  SELECT *,
        |         sum(n_tokens) OVER (PARTITION BY source ORDER BY wfp DESC, doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS run,
        |         sum(n_tokens) OVER (PARTITION BY source) // 2 AS budget
        |  FROM d)
        |SELECT doc_id, source, n_tokens, weight, run <= budget AS is_selected
        |FROM o""".stripMargin),
    "t16_dsir_weights" ->
      (dsirCte +
      """
        |SELECT cf.doc_id, CAST(sum(cf.c) AS BIGINT) AS n_bigrams,
        |       CAST(sum(cf.c * s.r6) AS DOUBLE) / 1000000.0 AS weight
        |FROM cf JOIN scored s USING (bucket)
        |GROUP BY 1""".stripMargin),
    "t17_dsir_select" ->
      (dsirCte +
      """,
        |wts AS (
        |  SELECT cf.doc_id,
        |         CAST(sum(cf.c * s.r6) AS DOUBLE) / 1000000.0 AS weight
        |  FROM cf JOIN scored s USING (bucket)
        |  GROUP BY 1),
        |tk AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |d AS (
        |  SELECT wts.doc_id, tk.n_tokens, wts.weight,
        |         CAST(round(wts.weight * 1000000) AS BIGINT) AS wfp
        |  FROM wts JOIN tk USING (doc_id)),
        |o AS (
        |  SELECT *,
        |         sum(n_tokens) OVER (ORDER BY wfp DESC, doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS run,
        |         (SELECT sum(n_tokens) FROM d) // 2 AS budget
        |  FROM d)
        |SELECT doc_id, n_tokens, weight, run <= budget AS is_selected
        |FROM o""".stripMargin),
    "t13_boilerplate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i FROM toks WHERE len(t) >= 8),
        |grams AS (
        |  SELECT doc_id,
        |         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2]
        |           || ' ' || t[CAST(i AS INT) + 3] || ' ' || t[CAST(i AS INT) + 4]
        |           || ' ' || t[CAST(i AS INT) + 5] || ' ' || t[CAST(i AS INT) + 6]
        |           || ' ' || t[CAST(i AS INT) + 7] AS gram
        |  FROM pos),
        |flagged AS (
        |  SELECT gram FROM (
        |    SELECT gram, count(DISTINCT doc_id) AS df FROM grams GROUP BY 1)
        |  WHERE df > 10),
        |perdoc AS (
        |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |         CAST(sum(CASE WHEN f.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate_grams
        |  FROM grams g LEFT JOIN flagged f USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
        |       CAST(coalesce(p.n_boilerplate_grams, 0) AS BIGINT) AS n_boilerplate_grams,
        |       CASE WHEN coalesce(p.n_grams, 0) = 0 THEN 0.0
        |            ELSE CAST(p.n_boilerplate_grams AS DOUBLE) / p.n_grams END AS boilerplate_frac
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)""".stripMargin,
    "t14_pii_scrub" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(text, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS BIGINT) AS n_phones,
        |       CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        |       regexp_replace(
        |         regexp_replace(
        |           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |           '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '[PHONE]', 'g'),
        |         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g') AS clean_text,
        |       (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |        + len(regexp_extract_all(text, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b'))
        |        + len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))) = 0 AS is_clean
        |FROM documents""".stripMargin,
    "t09_tfidf_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |         CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN n),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |              ORDER BY score DESC, token) AS BIGINT) AS kw_rank
        |  FROM s)
        |SELECT doc_id, kw_rank, token, tf, df, score
        |FROM r WHERE kw_rank <= 3""".stripMargin,
    "t10_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS token
        |  FROM documents),
        |vocab AS (
        |  SELECT token,
        |         CAST(count(*) AS BIGINT) AS occurrences,
        |         CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
        |  FROM toks GROUP BY 1),
        |t AS (SELECT CAST(sum(occurrences) AS BIGINT) AS total_occ FROM vocab)
        |SELECT CAST(row_number() OVER (ORDER BY occurrences DESC, token) AS BIGINT) AS freq_rank,
        |       token, occurrences, doc_freq,
        |       CAST(occurrences AS DOUBLE) / total_occ AS share,
        |       CAST(sum(occurrences) OVER (ORDER BY occurrences DESC, token
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         / total_occ AS cum_share
        |FROM vocab CROSS JOIN t""".stripMargin,
    "t08_token_budget_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |         md5(CAST(doc_id AS VARCHAR)) AS rk
        |  FROM documents),
        |b AS (SELECT source, CAST(sum(n_tokens) // 2 AS BIGINT) AS budget FROM d GROUP BY 1),
        |c AS (
        |  SELECT d.*, b.budget,
        |         CAST(sum(n_tokens) OVER (PARTITION BY d.source ORDER BY rk, doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM d JOIN b USING (source))
        |SELECT doc_id, source, n_tokens, budget,
        |       cum_tokens <= budget AS is_sampled
        |FROM c""".stripMargin,
    "t07_quality_prune" ->
      """WITH q AS (
        |  SELECT doc_id, lang,
        |         CAST(length(text) AS BIGINT) AS n_chars,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS punct_count,
        |         CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS BIGINT) AS stopword_count
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |         least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
        |           * (1.0 - CAST(punct_count AS DOUBLE) / nullif(n_chars, 0))
        |           * (0.5 + 0.5 * least(1.0, CAST(stopword_count AS DOUBLE) / nullif(n_tokens, 0) * 10.0))
        |           AS quality_score
        |  FROM q),
        |t AS (SELECT lang, quantile_cont(quality_score, 0.25) AS lang_p25 FROM s GROUP BY 1)
        |SELECT s.doc_id, s.lang, s.quality_score, t.lang_p25,
        |       s.quality_score >= t.lang_p25 AS is_kept
        |FROM s JOIN t USING (lang)""".stripMargin,
    "t06_repetition_stats" ->
      """WITH words AS (
        |  SELECT doc_id, n_chars, regexp_extract_all(text, '\S+') AS w FROM documents),
        |docstats AS (
        |  SELECT doc_id, n_chars,
        |         CAST(len(w) AS BIGINT) AS n_words,
        |         CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_words
        |  FROM words),
        |bigrams AS (
        |  SELECT doc_id, w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS bigram
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM words)),
        |bcounts AS (
        |  SELECT doc_id, bigram, count(*) AS cnt
        |  FROM bigrams GROUP BY doc_id, bigram),
        |btop AS (
        |  SELECT doc_id,
        |         max(struct_pack(cnt := cnt, bigram := bigram)) AS top,
        |         CAST(sum(cnt) AS BIGINT) AS total_bigrams,
        |         CAST(coalesce(sum(cnt) FILTER (cnt > 1), 0) AS BIGINT) AS dup_occ
        |  FROM bcounts GROUP BY doc_id)
        |SELECT d.doc_id, d.n_words, d.n_distinct_words,
        |       1.0 - CAST(d.n_distinct_words AS DOUBLE) / d.n_words AS dup_word_frac,
        |       b.top.bigram AS top_bigram,
        |       CAST(b.top.cnt AS BIGINT) AS top_bigram_count,
        |       CAST(b.top.cnt * length(b.top.bigram) AS DOUBLE) / d.n_chars AS top_bigram_char_frac,
        |       CAST(b.dup_occ AS DOUBLE) / b.total_bigrams AS dup_bigram_frac,
        |       (1.0 - CAST(d.n_distinct_words AS DOUBLE) / d.n_words <= 0.85
        |        AND CAST(b.top.cnt * length(b.top.bigram) AS DOUBLE) / d.n_chars <= 0.20)
        |         AS passes_repetition_filter
        |FROM docstats d JOIN btop b USING (doc_id)""".stripMargin,
    "q33_corpus_stats" ->
      """WITH t AS (
        |  SELECT lang, n_chars,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       quantile_cont(n_tokens, 0.25) AS p25_tokens,
        |       quantile_cont(n_tokens, 0.5) AS p50_tokens,
        |       quantile_cont(n_tokens, 0.9) AS p90_tokens,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM t GROUP BY 1""".stripMargin,
    "t12_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tokens,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tokens,
        |         coalesce(sum(tokens) OVER (ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |  FROM d)
        |SELECT doc_id, tokens,
        |       CAST(pre // 2048 AS BIGINT) AS seq_id,
        |       CAST(pre % 2048 AS BIGINT) AS seq_offset
        |FROM c""".stripMargin,
    "t11_mixture_resample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |         CAST(('0x' || substr(md5(concat_ws('_', doc_id, source)), 1, 4)) AS BIGINT) % 1000 AS bucket
        |  FROM documents),
        |tot AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_tokens) AS BIGINT) AS tokens_total
        |  FROM d GROUP BY 1),
        |cap AS (SELECT quantile_cont(tokens_total, 0.5) AS target_tokens FROM tot),
        |rates AS (
        |  SELECT t.source, t.n_docs, t.tokens_total, c.target_tokens,
        |         CASE WHEN t.tokens_total > 0
        |           THEN CAST(greatest(1, least(1000, floor(1000.0 * c.target_tokens / t.tokens_total))) AS BIGINT)
        |           ELSE CAST(1000 AS BIGINT) END AS rate_permille
        |  FROM tot t CROSS JOIN cap c),
        |s AS (
        |  SELECT d.source,
        |         CAST(sum(CASE WHEN d.bucket < r.rate_permille THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |         CAST(sum(CASE WHEN d.bucket < r.rate_permille THEN d.n_tokens ELSE 0 END) AS BIGINT) AS tokens_sampled
        |  FROM d JOIN rates r USING (source) GROUP BY 1)
        |SELECT r.source, r.n_docs, r.tokens_total, r.target_tokens,
        |       r.rate_permille, s.n_sampled, s.tokens_sampled
        |FROM rates r JOIN s USING (source)""".stripMargin,
    "t15_hash_split" ->
      """WITH fp AS (
        |  SELECT doc_id, lang, source,
        |         md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fingerprint
        |  FROM documents),
        |b AS (
        |  SELECT *, CAST(('0x' || substr(fingerprint, 1, 4)) AS BIGINT) % 1000 AS bucket
        |  FROM fp)
        |SELECT doc_id, lang, source, fingerprint, bucket,
        |       CASE WHEN bucket < 980 THEN 'train'
        |            WHEN bucket < 990 THEN 'validation'
        |            ELSE 'test' END AS split
        |FROM b""".stripMargin,
    "t20_alpha_mixture" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |         CAST(('0x' || substr(md5(concat_ws('_', doc_id, source, 'a')), 1, 4)) AS BIGINT)
        |           % 1000 AS bucket
        |  FROM documents),
        |totals AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_tokens) AS BIGINT) AS tokens_total
        |  FROM d GROUP BY 1),
        |mn AS (SELECT min(tokens_total) AS tokens_min FROM totals),
        |rates AS (
        |  SELECT t.source, t.n_docs, t.tokens_total,
        |         CASE WHEN t.tokens_total > 0
        |           THEN greatest(CAST(1 AS BIGINT), least(CAST(1000 AS BIGINT),
        |             CAST(floor(1000.0 * sqrt(CAST(m.tokens_min AS DOUBLE)
        |                  / CAST(t.tokens_total AS DOUBLE))) AS BIGINT)))
        |           ELSE CAST(1000 AS BIGINT) END AS rate_permille
        |  FROM totals t CROSS JOIN mn m),
        |s AS (
        |  SELECT d.source,
        |         CAST(sum(CASE WHEN d.bucket < r.rate_permille THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |         CAST(sum(CASE WHEN d.bucket < r.rate_permille THEN d.n_tokens ELSE 0 END) AS BIGINT) AS tokens_sampled
        |  FROM d JOIN rates r USING (source) GROUP BY 1)
        |SELECT r.source, r.n_docs, r.tokens_total, r.rate_permille,
        |       s.n_sampled, s.tokens_sampled
        |FROM rates r JOIN s USING (source)""".stripMargin,
    "t05_hash_sample" ->
      """SELECT doc_id, lang, source,
        |       CAST(('0x' || substr(md5(concat_ws('_', doc_id, lang)), 1, 4)) AS BIGINT) % 1000 AS bucket,
        |       CAST(CASE WHEN lang = 'en' THEN 300 ELSE 800 END AS BIGINT) AS rate_permille
        |FROM documents
        |WHERE CAST(('0x' || substr(md5(concat_ws('_', doc_id, lang)), 1, 4)) AS BIGINT) % 1000
        |      < CASE WHEN lang = 'en' THEN 300 ELSE 800 END""".stripMargin,
    "t01_lang_id" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |         CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS BIGINT) AS en_hits,
        |         CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS BIGINT) AS de_hits,
        |         CAST(len(regexp_extract_all(lower(text), '\b(le|les|et|des|une)\b')) AS BIGINT) AS fr_hits,
        |         CAST(len(regexp_extract_all(lower(text), '\b(el|los|las|que|una)\b')) AS BIGINT) AS es_hits,
        |         CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS zh_hits
        |  FROM documents)
        |SELECT *,
        |       CASE WHEN zh_hits > 0 THEN 'zh'
        |            WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
        |            WHEN de_hits >= fr_hits AND de_hits >= es_hits AND de_hits > 0 THEN 'de'
        |            WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
        |            WHEN es_hits > 0 THEN 'es'
        |            ELSE 'unknown' END AS predicted_lang,
        |       (CASE WHEN zh_hits > 0 THEN 'zh'
        |            WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
        |            WHEN de_hits >= fr_hits AND de_hits >= es_hits AND de_hits > 0 THEN 'de'
        |            WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
        |            WHEN es_hits > 0 THEN 'es'
        |            ELSE 'unknown' END) = lang AS is_correct
        |FROM h""".stripMargin,
    "t02_quality_score" ->
      s"""WITH q AS (
         |$docQuality)
         |SELECT doc_id, n_chars, n_tokens,
         |       CAST(n_chars AS DOUBLE) / nullif(n_tokens, 0) AS avg_token_len,
         |       CAST(punct_count AS DOUBLE) / nullif(n_chars, 0) AS punct_ratio,
         |       CAST(digit_count AS DOUBLE) / nullif(n_chars, 0) AS digit_ratio,
         |       CAST(stopword_count AS DOUBLE) / nullif(n_tokens, 0) AS stopword_ratio,
         |       least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
         |             * (1.0 - CAST(punct_count AS DOUBLE) / nullif(n_chars, 0))
         |             * (0.5 + 0.5 * least(1.0, CAST(stopword_count AS DOUBLE) / nullif(n_tokens, 0) * 10.0))
         |         AS quality_score
         |FROM q""".stripMargin,
    "t03_token_count" ->
      """SELECT doc_id,
        |       CAST(length(text) AS BIGINT) AS n_chars,
        |       CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens,
        |       CAST(length(text) AS DOUBLE)
        |             / nullif(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')), 0) AS chars_per_token
        |FROM documents""".stripMargin,
    "t04_fingerprint" ->
      """WITH fp AS (
        |  SELECT doc_id, lang, source,
        |         md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fingerprint
        |  FROM documents)
        |SELECT doc_id, lang, source, fingerprint,
        |       CAST(row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS BIGINT) AS dup_rank,
        |       row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) > 1 AS is_exact_dup,
        |       substr(fingerprint, 1, 8) AS fingerprint_prefix
        |FROM fp""".stripMargin)
}
