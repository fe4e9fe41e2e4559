package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deduplication operator family over the documents corpus — the
  * LLM-training-data cleaning stack:
  *
  *  - d01 exact dedup: content-hash groupBy, keep-first.
  *  - d02 n-gram Jaccard: exact set similarity on word-3-gram shingles,
  *    candidate pairs bounded by a language blocking key — the exact
  *    baseline the approximate methods are judged against.
  *  - d03 MinHash+LSH: 18 min-wise signatures banded 6×3; candidate
  *    pairs share at least one band bucket. The min-wise hash family is
  *    Kirsch–Mitzenmacher double hashing over the two md5 halves of the
  *    shingle (`min(h1 + k·h2)`) — ONE digest per shingle, portable
  *    across engines, uniformly distributed per k.
  *  - d04/d17 SimHash: 64-bit weighted fingerprint from token-hash
  *    bits, carried as four 16-bit bands for hamming-neighbor candidate
  *    grouping, with a hamming-verified near-dup pair report.
  *
  * Scale: nothing here is O(n²) in the corpus — d02 joins only within
  * blocking keys on shared shingles; d03/d04 join on band buckets. All
  * hashing is md5/regexp (codegen'd); signatures are plain aggregations
  * that partial-aggregate map-side.
  */
object Dedup {

  // ─── d01 exact dedup ─────────────────────────────────────────────────
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.groupBy(md5(col("text")).as("fingerprint"))
      .agg(
        min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("dup_count"),
        countDistinct(col("source")).as("n_sources"))
  }

  // ─── d02 blocked exact n-gram Jaccard ────────────────────────────────
  /** Exact word-3-gram Jaccard for candidate pairs blocked by language
    * AND by a LOSSLESS length-ratio prune: J ≥ 0.2 forces
    * min(n_a,n_b)/max(n_a,n_b) ≥ 0.2 (inter ≤ min, union ≥ max), so
    * dropping shared-shingle matches whose shingle-set sizes differ by
    * more than 5× provably cannot change the output — it only prunes
    * hopeless pairs BEFORE the pair-count shuffle, the stage that goes
    * quadratic on hot shingles. Each doc's set size rides along its
    * shingle rows (sizes join — broadcast while per-doc sizes are small,
    * a real shuffle at corpus scale, which is exactly when the prune
    * pays), which also removes the two post-aggregation size joins.
    * Word shingles (not char-4-grams) keep the shared-shingle join
    * sparse — a char n-gram from a common vocabulary co-occurs in nearly
    * every doc pair and turns the candidate join quadratic in practice.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardOf(Tables.documents(spark, dir))

  /** Frame-level core — d24/d26's sampled calibration leg feeds a
    * filtered corpus through the identical pair plan.
    */
  private[graft] def ngramJaccardOf(docs: DataFrame): DataFrame = {
    // 60-bit md5-prefix key over (lang, shingle) — the d16 gh
    // discipline (guide §2.3, shuffle fewer bytes): the pair
    // self-join — the exchange that goes QUADRATIC on a hot shingle,
    // so the one whose bytes matter at scale — ships one BIGINT
    // instead of a ~34-byte shingle string + lang on both sides.
    // (Hashing BELOW the set-semantics distinct was measured and
    // REJECTED: narrowing the linear distinct exchange too read
    // 1.77 -> 1.96 s solo-warm at sf0.1, because md5 then runs per
    // duplicate OCCURRENCE instead of per distinct shingle and this
    // host is CPU-bound; hash-above keeps the local cost at zero —
    // 1.52 vs 1.53 s — while the quadratic exchange still narrows
    // 4-5x.) lang folds
    // into the digest (US separator byte — cannot occur inside \S+
    // tokens), so equal keys ⇔ same (lang, shingle) up to the same
    // deterministic 2⁻⁶⁰ truncation collision class d16/d28 document;
    // the oracle derives the identical prefix in the identical
    // hash-then-distinct order (null lang nulls the concat in both
    // engines, preserving the old a.lang = b.lang null-drop).
    val sh = wordShinglesOf(docs, withLang = true, dedup = true)
      .select(col("doc_id"),
        conv(substring(md5(concat(col("lang"), lit("\u001f"), col("shingle"))),
          1, 15), 16, 10).cast("long").as("gh"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shN = sh.join(sizes, Seq("doc_id"))
    shN.as("a").join(shN.as("b"),
        col("a.gh") === col("b.gh") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.n") <= col("b.n") * 5 && col("b.n") <= col("a.n") * 5)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .select(
        col("doc_a"), col("doc_b"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("union_n"),
        // raw double division — identical IEEE op both engines, no rounding
        (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.2)
  }

  /** Word-3-gram shingles per doc. `dedup=true` gives SET semantics
    * (one row per distinct (doc, shingle) — required for Jaccard
    * counting) at the cost of a full dedup shuffle; min-wise signature
    * aggregation is insensitive to duplicate shingles, so the MinHash
    * path reads the raw explode and skips that shuffle entirely.
    */
  private def wordShingles(spark: SparkSession, dir: String,
                           withLang: Boolean = false,
                           dedup: Boolean = true): DataFrame =
    wordShinglesOf(Tables.documents(spark, dir), withLang, dedup)

  /** Shingles of a pre-filtered documents frame — lets the d07/d08
    * verification slice push its candidate-doc restriction BELOW the
    * explode (shingle only the ~dozens of candidate docs instead of
    * re-exploding the whole corpus and semi-joining after; at 100 TB
    * the post-explode filter would re-pay the full corpus scan).
    */
  private[graft] def wordShinglesOf(d: DataFrame,
                             withLang: Boolean = false,
                             dedup: Boolean = true): DataFrame = {
    val keep = if (withLang) Seq(col("doc_id"), col("lang")) else Seq(col("doc_id"))
    val raw = d
      .select(keep :+ regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("t"): _*)
      .filter(size(col("t")) >= 3)
      .select(keep ++ Seq(col("t"),
        explode(sequence(lit(1), size(col("t")) - 2)).as("i")): _*)
      .select(keep :+
        concat_ws(" ",
          element_at(col("t"), col("i")),
          element_at(col("t"), col("i") + 1),
          element_at(col("t"), col("i") + 2)).as("shingle"): _*)
    if (dedup) raw.distinct() else raw
  }

  // ─── d03 MinHash + LSH banding ───────────────────────────────────────
  /** d03 entry: generate the LSH candidate pairs AND PERSIST them as a
    * warehouse artifact (stage-then-swap, fingerprint-keyed to the
    * source like the IVF index), returning the published pairs. The
    * dedup family shares one candidate-generation pass this way: d03
    * carries the build cost, d07/d08 read the artifact (building it
    * first only if missing/stale) — the build-once-use-many contract a
    * production dedup service runs, where candidate generation over the
    * full corpus is the dominant cost and every downstream consumer
    * (dedup, decontamination, clustering) probes the same pair set.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    // the standing artifact is built at the d26-CHOSEN banding (the
    // decision artifact, build-if-missing) — the retune loop is closed
    // operationally, not just reported. The banding is part of the
    // artifact NAME, so a changed decision is a new path and the stale
    // banding's artifact can never be served (rebuild-on-change via
    // the key, the same staleness argument as the source fingerprint).
    // On this corpus the retune derives the shipped 6×3 (the d26
    // oracle proves the selection arithmetic), which is the (b, r) the
    // d03/d19/d24 DuckDB oracles replay; a corpus whose retune chooses
    // differently changes the oracle constants WITH the artifact.
    val (nb, nr) = chosenBanding(spark, dir)
    val path = candidatesPath(spark, dir, nb, nr)
    graft.sources.Sinks.stagePublish(
      bandPairs(minhashBandsOf(
        wordShingles(spark, dir, dedup = false), nb, nr)), path)
    spark.read.parquet(path)
  }

  private def candidatesPath(spark: SparkSession, dir: String,
                             nBands: Int, rowsPerBand: Int): String =
    graft.sources.Sinks.artifactPath(spark, "lsh_candidates", dir) +
      s"_b${nBands}r$rowsPerBand"

  /** Published candidate pairs at the CHOSEN banding, building the
    * artifact iff missing (a fresh session running a consumer
    * standalone, or a banding decision that changed since the last
    * publish).
    */
  private def candidates(spark: SparkSession, dir: String): DataFrame = {
    val (nb, nr) = chosenBanding(spark, dir)
    val path = candidatesPath(spark, dir, nb, nr)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) minhashLsh(spark, dir)
    else spark.read.parquet(path)
  }

  /** LSH candidate pairs from a prebuilt (doc_id, shingle) frame — lets
    * d07 share one shingle computation between the signature build and
    * the exact-Jaccard verification.
    */
  /** Per-doc LSH band table (doc_id, band_j, band_hash) from a
    * (doc_id, shingle) frame — 18 min-wise signatures as STATIC
    * aggregate columns over ONE pass (no k-explosion: one row per doc
    * through the shuffle, not (doc, shingle, k)) and ONE md5 per
    * shingle: the hash family is Kirsch–Mitzenmacher double hashing
    * h_k = h1 + k·h2 over the two md5 halves (h1 = 60 bits, h2 = 56
    * bits, so h1 + 17·h2 < 2^62 — no signed-long overflow). The
    * round-2 family hashed md5(k|shingle) per (k, shingle) and the 12
    * digests were ~2.8s of d03's 3.1s at sf0.1; arithmetic signatures
    * are nearly free, which is why this uses MORE of them banded
    * NARROWER (6 bands × 3 rows): recall at J=0.8 rises from ~80%
    * (3×4) to ~99.9%, the property DedupSpec's LSH-recall test pins.
    * Exposed as its own stage because the band table is ALSO the
    * standing index a new shard probes (d19) — per-doc rows, so a
    * subset corpus yields exactly the matching subset of bands.
    */
  private[graft] def minhashBandsOf(sh: DataFrame): DataFrame =
    minhashBandsOf(sh, 6, 3)

  /** Parameterized banding — the seam the d26 retune feeds: any
    * (nBands, rowsPerBand) with nBands·rowsPerBand ≤ 18 stays inside
    * the k ≤ 17 double-hashing overflow bound (h1 + 17·h2 < 2^62).
    * The published d03/d19 artifacts are built at [[chosenBanding]]'s
    * pair (banding-keyed paths, so a changed decision rebuilds); the
    * 6×3 no-arg overload is the shipped default — what a corpus gets
    * before any calibration has run, and the creation banding of the
    * streaming curation index.
    */
  private[graft] def minhashBandsOf(sh: DataFrame, nBands: Int,
                                    rowsPerBand: Int): DataFrame = {
    require(nBands * rowsPerBand <= 18,
      s"banding $nBands x $rowsPerBand exceeds the 18-hash signature family")
    val m = md5(col("shingle"))
    val h1 = conv(substring(m, 1, 15), 16, 10).cast("long")
    val h2 = conv(substring(m, 17, 14), 16, 10).cast("long")
    val ks = 0 until (nBands * rowsPerBand)
    val sigCols = ks.map(k => min(h1 + lit(k.toLong) * h2).as(s"sig_$k"))
    val sig = sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    sig.select(col("doc_id"),
      explode(array((0 until nBands).map(j => struct(
        lit(j.toLong).as("band_j"),
        md5(concat_ws("", (0 until rowsPerBand).map(i =>
          col(s"sig_${rowsPerBand * j + i}").cast("string")): _*))
          .as("band_hash"))): _*))
        .as("b"))
      .select(col("doc_id"), col("b.band_j").as("band_j"), col("b.band_hash").as("band_hash"))
  }

  /** Candidate pairs from any band table — the ≥1-shared-band blocking
    * join (shared by the d03 build and d27's chosen-banding rebuild).
    */
  private def bandPairs(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band_j") === col("b.band_j") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))

  // ─── d25 training-corpus export ──────────────────────────────────────
  /** The end product of the curation pipeline: the document set a
    * training run actually reads. Starts from the non-benchmark corpus
    * (the d13 convention: src0/src1 ARE the benchmark and never train),
    * drops every doc the dual-route dedup union removes (d21) and every
    * doc the exact 13-gram decontamination flags (d13), and stamps each
    * survivor with its contamination-safe fold (t15) and token count —
    * one row per trainable doc: (doc_id, source, lang, split,
    * n_tokens). Everything upstream is an oracle-checked gate; this row
    * makes the COMPOSITION itself oracle-checked, so a gate wiring bug
    * (wrong join side, missed flag) can't hide between green tables.
    *
    * Scale: projections plus two anti-joins against removal lists that
    * are orders smaller than the corpus (broadcast-able); the heavy
    * work lives in the published artifacts the gate queries probe
    * (build-if-missing), not here.
    */
  def trainingCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(!col("source").isin("src0", "src1"))
      .select(col("doc_id"), col("source"), col("lang"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("n_tokens"))
    val splits = TextAnalysis.hashSplit(spark, dir).select(col("doc_id"), col("split"))
    val removed = dedupRouteUnion(spark, dir)
      .select(col("removed_doc_id").as("doc_id"))
    val contaminated = ngramContamination(spark, dir)
      .filter(col("is_contaminated")).select(col("doc_id"))
    d.join(splits, "doc_id")
      .join(removed, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
  }

  // ─── d24 LSH calibration report ──────────────────────────────────────
  /** Banding-parameter calibration — q45's index-health analog for the
    * Jaccard route: per exact-Jaccard decile (d02's ground truth,
    * J ≥ 0.2), how many true pairs the d03 candidate artifact caught
    * (empirical recall), the mean shared-band count among caught
    * pairs, and the 6-band × 3-row theory values at the bucket
    * midpoint (per-band match p = J³ → E[bands] = 6·J³, recall =
    * 1−(1−J³)⁶). Divergence between the observed and theoretical
    * columns is how an operator decides the band/row split needs
    * retuning before a production sweep.
    *
    * Determinism: all comparisons are integer counts; recall and mean
    * divide two exact longs once; the theory columns are scalar
    * per-row double chains evaluated in one fixed order — no
    * data-dependent double summation anywhere.
    *
    * Scale: the observed side is pair-frame joins over the published
    * candidate artifact (build-if-missing). The exact baseline IS the
    * expensive leg — by design this report runs on a SAMPLE corpus to
    * tune banding before the full-corpus candidate sweep, exactly how
    * production LSH parameters are chosen. The sample is
    * [[calibSample]]'s deterministic FIXED-BUDGET selection
    * ([[CalibDocBudget]] docs by salted hash) — pair work is quadratic
    * in sample size, so a fixed budget keeps the exact leg CONSTANT at
    * any corpus scale (a fixed-rate gate would grow it as corpus²)
    * while the decile mixture it estimates stays unbiased. The budget
    * constant is the knob a production run would raise for tighter
    * decile estimates; the candidate artifact side stays FULL (recall
    * is measured against the real index, on the sampled pairs).
    */
  def lshCalibration(spark: SparkSession, dir: String): DataFrame = {
    val agg = calibrationMix(spark, dir)
    // theory at the bucket midpoint, in the same scalar op order as the
    // oracle (left-associated products — bit-identical doubles).
    // The 6/3 constants are the CHOSEN banding's: since round 9 the
    // published candidate artifact follows the d26 decision, and the
    // design-floor gates make 6×3 the unique survivor of the 18-hash
    // family (the d26 oracle proves the derivation), so the theory
    // columns and the probed artifact agree; a corpus whose retune
    // chose differently would update these constants with the oracle's
    val jMid = (col("j_bucket").cast("double") + 0.5) / 10.0
    agg
      .withColumn("j_mid", jMid)
      .withColumn("p3", col("j_mid") * col("j_mid") * col("j_mid"))
      .withColumn("q3",
        (lit(1.0) - col("p3")) * (lit(1.0) - col("p3")) * (lit(1.0) - col("p3")))
      .select(col("j_bucket"), col("j_mid"), col("n_true_pairs"), col("n_caught"),
        (col("n_caught").cast("double") / col("n_true_pairs")).as("lsh_recall"),
        when(col("n_caught") > 0,
          col("sum_bands").cast("double") / col("n_caught")).as("avg_bands_caught"),
        (lit(6.0) * col("p3")).as("expected_bands"),
        (lit(1.0) - col("q3") * col("q3")).as("theoretical_recall"))
  }

  /** Shared observed-mixture stage for d24/d26: per exact-Jaccard
    * decile, the true-pair count plus what the published candidate
    * artifact caught. The exact d02 leg is the expensive part and is
    * sample-corpus-by-design (see [[lshCalibration]]).
    */
  /** Calibration sample budget: a FIXED document count, not a permille
    * of the corpus. The exact-Jaccard leg is quadratic in sample size,
    * so a fixed-rate gate grows pair work as corpus² — at 100× data the
    * calibration would dominate the run it is meant to tune. A fixed
    * budget makes the exact leg CONSTANT at any corpus size. 512 covers
    * the whole sf0.01 oracle corpus (every true pair lands in the
    * observed mixture — strictly more statistical power than the former
    * 500‰ gate's half-sample) while capping the exact leg at ~131k
    * candidate pairs forever.
    */
  private[graft] val CalibDocBudget = 512

  /** Deterministic budget-based calibration sample — CONSISTENT
    * (bottom-k minwise) selection, not uniform: the [[CalibDocBudget]]
    * documents whose MINIMUM salted shingle hash is smallest (doc_id
    * breaks ties). The minwise property is what makes a bounded sample
    * usable for PAIR calibration at all: near-duplicate docs share
    * their min shingle with probability ≈ their Jaccard, so a true
    * pair enters the sample TOGETHER with probability linear in the
    * sampling rate — an independent per-doc gate makes it quadratic,
    * and the observed mixture collapses to zero pairs as the corpus
    * grows past the budget. The salt ("cal_" prefix) keeps the sampler
    * independent of the minhash signature family it calibrates (an
    * unsalted min-h1 gate would precondition the sample on the k=0
    * hash and inflate measured recall). Docs under 3 tokens have no
    * shingle, can never be a d02 pair, and are excluded by
    * construction.
    *
    * Scale: one linear shingle scan + a map-side-combining min per
    * doc; orderBy+limit compiles to TakeOrderedAndProject (per-
    * partition top-K heap, driver merges K rows per partition — never
    * a full sort).
    */
  private[graft] def calibSample(docs: DataFrame): DataFrame = {
    val minH = wordShinglesOf(docs, dedup = false)
      .groupBy(col("doc_id"))
      .agg(min(
        conv(substring(md5(concat(lit("cal_"), col("shingle"))), 1, 15), 16, 10)
          .cast("long")).as("cal_h"))
    docs.join(minH, Seq("doc_id"))
      .orderBy(col("cal_h"), col("doc_id"))
      .limit(CalibDocBudget)
      .drop("cal_h")
  }

  private def calibrationMix(spark: SparkSession, dir: String): DataFrame = {
    val exact = ngramJaccardOf(calibSample(Tables.documents(spark, dir)))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val cand = candidates(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands").as("nb"))
    exact
      .join(cand, Seq("doc_a", "doc_b"), "left")
      .withColumn("j_bucket", least(lit(9L), floor(col("jaccard") * 10)))
      .groupBy(col("j_bucket"))
      .agg(
        count(lit(1)).as("n_true_pairs"),
        sum(when(col("nb").isNotNull, 1L).otherwise(0L)).as("n_caught"),
        sum(coalesce(col("nb"), lit(0L))).as("sum_bands"))
  }

  /** The exact true-pair Jaccard mixture of the calibration sample,
    * with NO artifact probe — the leg [[bandRetune]] selects on. The
    * split matters structurally: the standing candidate artifact is
    * built at the chosen banding, so the selection must not read the
    * artifact (choice → artifact → choice would be circular). The
    * retune scores THEORY curves against this observed mixture;
    * [[calibrationMix]] (d24/d27) then measures what the published
    * artifact actually caught.
    */
  private def trueMixture(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardOf(calibSample(Tables.documents(spark, dir)))
      .withColumn("j_bucket", least(lit(9L), floor(col("jaccard") * 10)))
      .groupBy(col("j_bucket"))
      .agg(count(lit(1)).as("n_true_pairs"))

  // ─── d26 automated band retune ───────────────────────────────────────
  /** Conditional fixed-length power chain: base^n as maxN left-
    * associated multiplications where factors beyond n multiply by an
    * exact 1.0 — the only way to keep a data-dependent exponent
    * bit-identical between Spark and the DuckDB oracle (`pow()` is not
    * correctly-rounded in either engine, and a loop would need a
    * data-dependent plan).
    */
  private def condPow(base: Column, n: Column, maxN: Int): Column =
    (1 to maxN).foldLeft(lit(1.0)) { (acc, k) =>
      acc * when(lit(k.toLong) <= n, base).otherwise(lit(1.0))
    }

  /** d24-driven banding selection — turns the calibration report's
    * operator decision into arithmetic: over every (bands, rows) split
    * of the 18-hash signature family (b·r ≤ 18, the k ≤ 17
    * Kirsch–Mitzenmacher overflow bound), score the theoretical S-curve
    * against the OBSERVED true-pair Jaccard mixture and choose the
    * cheapest banding that clears both gates:
    *
    *  - recall gate: mixture-weighted recall over the near-dup target
    *    zone (J ≥ 0.5 buckets) ≥ 0.9;
    *  - precision gate: mixture-weighted catch over the below-target
    *    buckets (J < 0.5) ≤ 0.25 — without it, 1-row-per-band always
    *    wins on recall while its candidate set degenerates toward the
    *    cross product;
    *  - design-floor gates (mixture-independent; see the inline note):
    *    theoretical catch ≥ 0.95 at the J = 0.75 design point and
    *    ≤ 0.20 at the J = 0.30 background point — the S-curve SHAPE
    *    contract that holds even when the observed mixture is
    *    degenerate (all-dup or all-background samples).
    *
    * Cost = hash count b·r, then band count b (shuffle rows per doc),
    * then r — a total order, so `is_chosen` marks exactly one row when
    * any banding passes. The chosen (b, r) is what
    * [[minhashBandsOf(sh:org\.apache\.spark\.sql\.DataFrame,nBands:Int,rowsPerBand:Int)* minhashBandsOf]]
    * consumes to build the d03 artifact (see [[chosenBanding]]).
    *
    * Determinism: recall curves are fixed-order double chains
    * ([[condPow]]); each bucket's contribution is floored to an integer
    * parts-per-billion weight BEFORE summation, so every aggregate is
    * an order-independent long sum, and both gate comparisons are pure
    * integer arithmetic (exact to ~10⁹ true pairs — far beyond any
    * calibration sample). The two report-only ratio columns divide two
    * exact longs once.
    *
    * Scale: the grid is 47 rows; everything downstream of the shared
    * mixture stage is arithmetic on a broadcast-sized frame. The
    * expensive leg is [[calibrationMix]]'s exact-Jaccard baseline,
    * which runs on a sample corpus by design (the d24 contract).
    */
  def bandRetune(spark: SparkSession, dir: String): DataFrame = {
    val mix = trueMixture(spark, dir)
    val grid = spark.range(1, 19).select(col("id").as("n_bands"))
      .crossJoin(spark.range(1, 9).select(col("id").as("n_rows")))
      .filter(col("n_bands") * col("n_rows") <= 18L)
    val scored = grid.crossJoin(broadcast(mix))
      .withColumn("j_mid", (col("j_bucket").cast("double") + 0.5) / 10.0)
      .withColumn("p", condPow(col("j_mid"), col("n_rows"), 8))
      .withColumn("miss", condPow(lit(1.0) - col("p"), col("n_bands"), 18))
      .withColumn("recall_ppb",
        floor((lit(1.0) - col("miss")) * lit(1000000000.0)).cast("long"))
    val mixSums = scored.groupBy(col("n_bands"), col("n_rows")).agg(
      sum(when(col("j_bucket") >= 5, col("n_true_pairs") * col("recall_ppb"))
        .otherwise(0L)).as("num_t"),
      sum(when(col("j_bucket") >= 5, col("n_true_pairs")).otherwise(0L)).as("den_t"),
      sum(when(col("j_bucket") < 5, col("n_true_pairs") * col("recall_ppb"))
        .otherwise(0L)).as("num_l"),
      sum(when(col("j_bucket") < 5, col("n_true_pairs")).otherwise(0L)).as("den_l"))
    // LEFT join back onto the grid (q64's empty-baseline rule): a sample
    // with NO true pairs must yield the 47-row grid with zero mixture
    // weight — every banding fails the den_t>0 gate and chosenBanding
    // falls back to 6×3 — not an empty frame (the inner crossJoin shape
    // silently vanished the whole report on a degenerate sample).
    val sel = grid.join(mixSums, Seq("n_bands", "n_rows"), "left")
      .na.fill(0L, Seq("num_t", "den_t", "num_l", "den_l"))
    // DESIGN-FLOOR gates (mixture-INDEPENDENT, pure S-curve theory at
    // two fixed operating points): the mixture gates alone degenerate
    // on a dup-heavy corpus — when every observed true pair sits at
    // J≈1 and none below 0.5, the weighted-recall gate passes even a
    // 1-hash banding (catch = J: no superlinear low-J suppression at
    // all) and the precision gate is vacuously true, so "cheapest
    // passing" selects r=1 and the standing index's J=0.75 recall
    // silently drops to 75%. The floor pins the curve SHAPE the
    // near-dup contract needs regardless of what the sample happened
    // to contain: ≥95% catch at the J=0.75 design point, ≤20% catch at
    // the J=0.30 background point. Same condPow fixed-order chains →
    // ppb floor → integer compares as the mixture leg (bit-identical
    // in the oracle); both floors together eliminate every r=1 banding
    // and every r=2 banding wide enough to clear the recall floor, so
    // the cheapest survivor of the 18-hash family is the shipped 6×3.
    val withFloor = sel
      .withColumn("p75", condPow(lit(0.75), col("n_rows"), 8))
      .withColumn("rec75_ppb",
        floor((lit(1.0) - condPow(lit(1.0) - col("p75"), col("n_bands"), 18))
          * lit(1000000000.0)).cast("long"))
      .withColumn("p30", condPow(lit(0.3), col("n_rows"), 8))
      .withColumn("catch30_ppb",
        floor((lit(1.0) - condPow(lit(1.0) - col("p30"), col("n_bands"), 18))
          * lit(1000000000.0)).cast("long"))
    val flagged = withFloor.withColumn("passes",
      col("den_t") > 0L &&
        col("num_t") * 10L >= col("den_t") * 9000000000L &&
        (col("den_l") === 0L || col("num_l") * 4L <= col("den_l") * 1000000000L) &&
        col("rec75_ppb") >= 950000000L &&
        col("catch30_ppb") <= 200000000L)
    // rank on the 47-row candidate frame — the q38 tiny-frame rule
    val byCost = Window.orderBy(col("passes").desc,
      (col("n_bands") * col("n_rows")).asc, col("n_bands").asc, col("n_rows").asc)
    flagged
      .withColumn("rk", row_number().over(byCost))
      .select(
        col("n_bands"), col("n_rows"),
        (col("n_bands") * col("n_rows")).as("n_hashes"),
        col("den_t").as("n_target_pairs"),
        when(col("den_t") > 0L,
          col("num_t").cast("double") / (col("den_t").cast("double") * lit(1.0e9)))
          .as("target_recall"),
        when(col("den_l") > 0L,
          col("num_l").cast("double") / (col("den_l").cast("double") * lit(1.0e9)))
          .as("low_j_catch"),
        (col("rec75_ppb").cast("double") / lit(1.0e9)).as("design_recall_75"),
        (col("catch30_ppb").cast("double") / lit(1.0e9)).as("design_catch_30"),
        col("passes"),
        (col("passes") && col("rk") === 1).as("is_chosen"))
  }

  /** The banding d26 selects, as plain ints for the artifact builder —
    * a 1-row gate read (the Pipeline.scala idiom), falling back to the
    * shipped 6×3 when no candidate clears both gates.
    */
  /** The retune decision as a published 1-row artifact (build-if-missing,
    * fingerprint-keyed like lsh_candidates — bandRetune is deterministic,
    * so a rebuild is byte-identical and staleness impossible): consumers
    * (d27's A/B, an alternate-banding sweep) read the choice without
    * re-running the calibration mixture. Falls back to the shipped 6×3
    * when no banding clears both gates (the artifact is then empty).
    */
  // session-lifetime memo keyed by the FINGERPRINTED artifact path: a
  // corpus change changes the key, so the memo can never serve a stale
  // decision, and every same-corpus consumer after the first skips the
  // per-call 1-row artifact read (six bench queries pay it otherwise)
  private val bandingMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()

  def chosenBanding(spark: SparkSession, dir: String): (Int, Int) =
    bandingMemo.computeIfAbsent(
      graft.sources.Sinks.artifactPath(spark, "band_choice", dir),
      _ => graft.sources.Sinks.ensureArtifact(spark, "band_choice", dir) {
        bandRetune(spark, dir).filter(col("is_chosen"))
          .select(col("n_bands"), col("n_rows"))
      }.collect()
        .headOption.map(r => (r.getLong(0).toInt, r.getLong(1).toInt))
        .getOrElse((6, 3)))

  // ─── d27 retuned-banding A/B calibration ─────────────────────────────
  /** Closes the retune loop operationally: build candidates with the
    * d26-CHOSEN banding and report, per exact-Jaccard decile of the
    * SAME sampled mixture, how the chosen banding's empirical recall
    * compares with the shipped 6×3's — the side-by-side an operator
    * reads before swapping the production banding. Under the
    * design-floor gates 6×3 is the unique survivor on this corpus, so
    * the report also acts as a self-check: when chosen == default the two catch
    * columns must be IDENTICAL (pair candidacy is pairwise — signatures
    * depend only on a doc's own shingles — so the full-corpus artifact
    * and the sampled-corpus rebuild agree on sampled pairs; RetuneSpec
    * pins this).
    *
    * Determinism: the chosen (b, r) is collected from [[bandRetune]]
    * (a ≤47-row decision frame — the Pipeline-gate bounded-read rule);
    * both engines derive the identical choice (the d26 oracle proves
    * the selection arithmetic), and the dynamic-banding replay
    * concatenates sig strings in ascending k order exactly like
    * [[minhashBandsOf]].
    *
    * Scale: chosen-banding candidates are built from the SAMPLED
    * corpus only (the d24 sample contract) — band blocking, never
    * all-pairs; the default side probes the published artifact.
    */
  def retunedCalibration(spark: SparkSession, dir: String): DataFrame = {
    val (nb, nr) = chosenBanding(spark, dir)
    val sampled = calibSample(Tables.documents(spark, dir))
    val exact = ngramJaccardOf(sampled)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    // the default side is an explicit sampled-corpus 6×3 rebuild (NOT
    // the published artifact — that is now built at the CHOSEN banding,
    // which would make the A/B compare chosen against itself). On
    // sampled pairs this equals what a full 6×3 artifact would catch:
    // pair candidacy is pairwise (RetuneSpec pins the property)
    val candDef = bandPairs(minhashBandsOf(
        wordShinglesOf(sampled, withLang = false, dedup = false), 6, 3))
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit_d"))
    val candC = bandPairs(minhashBandsOf(
        wordShinglesOf(sampled, withLang = false, dedup = false), nb, nr))
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit_c"))
    exact
      .join(candDef, Seq("doc_a", "doc_b"), "left")
      .join(candC, Seq("doc_a", "doc_b"), "left")
      .withColumn("j_bucket", least(lit(9L), floor(col("jaccard") * 10)))
      .groupBy(col("j_bucket"))
      .agg(count(lit(1)).as("n_true_pairs"),
        sum(coalesce(col("hit_d"), lit(0L))).as("caught_default"),
        sum(coalesce(col("hit_c"), lit(0L))).as("caught_chosen"))
      .select(col("j_bucket"),
        lit(nb.toLong).as("n_bands"), lit(nr.toLong).as("n_rows"),
        col("n_true_pairs"), col("caught_default"), col("caught_chosen"),
        (col("caught_default").cast("double") / col("n_true_pairs"))
          .as("recall_default"),
        (col("caught_chosen").cast("double") / col("n_true_pairs"))
          .as("recall_chosen"))
  }

  // ─── d04 SimHash fingerprint + hamming bands ─────────────────────────
  /** 64-bit weighted SimHash as FOUR 16-bit hamming bands in ONE corpus
    * aggregation: each token occurrence contributes ±1 per bit position
    * (summing the sign per OCCURRENCE is identical to the classic
    * per-distinct-token count-weighted sum, without the (doc, token)
    * pre-aggregation); bit j's sign comes from bit (j mod 4) of md5 hex
    * nibble (j div 4), so one md5 per token feeds all 64 bits, and all
    * 64 bit-sums are STATIC aggregate columns over one groupBy(doc_id)
    * — no explode(0..63) row blowup. The fingerprint is kept as its
    * four 16-bit band values (banding = the standard ≤3-bit-hamming
    * blocking guarantee: two fingerprints within hamming 3 agree on ≥1
    * band) rather than one 64-bit integer, which would collide with the
    * sign bit in both engines' BIGINT.
    *
    * Round 4's 16-bit fingerprint SATURATED on this corpus's small
    * vocabulary (846 identical-fingerprint pairs at sf0.01 — the banded
    * join degenerated toward the cross product); 64 bits restores the
    * discrimination a production SimHash needs, spec-pinned in
    * DedupSpec (distinct fingerprints ≈ distinct texts).
    */
  private[graft] def simhashBands(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    // the first 16 hex chars parse ONCE into two unsigned 32-bit halves
    // (16 hex chars as one 64-bit conv would overflow signed BIGINT);
    // each of the 64 bit tests is then a shift+mask on a long — the
    // hex-char isin form (64 × an 8-string set probe per token) ran
    // ~25% slower (d04 warm 2.4s → 1.8s, d17 2.6s → 1.9s at sf0.1);
    // the remaining cost is the token explode + md5 + 65-buffer agg
    val toks = d.select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("token"))
      .select(col("doc_id"), md5(col("token")).as("m"))
      .select(col("doc_id"),
        conv(substring(col("m"), 1, 8), 16, 10).cast("long").as("v1"),
        conv(substring(col("m"), 9, 8), 16, 10).cast("long").as("v2"))
    // bit j = bit (j mod 4) of hex nibble (j div 4); hex char c (1-based)
    // sits 4*(8-c) bits up in its half's value
    val bitSums = (0 until 64).map { j =>
      val c = j / 4 + 1
      val b = j % 4
      val (v, sh) = if (c <= 8) (col("v1"), 4 * (8 - c) + b)
                    else (col("v2"), 4 * (16 - c) + b)
      sum(shiftright(v, sh).bitwiseAND(lit(1L))).as(s"s_$j")
    }
    // the ±1-sum sign test folds to 2·(ones count) > token count
    toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), bitSums: _*)
      .select(col("doc_id") +:
        (0 until 4).map { b =>
          (0 until 16).map(i =>
            when(col(s"s_${16 * b + i}") * 2 > col("n_toks"), lit(1L << i))
              .otherwise(lit(0L)))
            .reduce(_ + _).as(s"band$b")
        }: _*)
  }

  /** Warehouse path of the published per-doc band table — the SimHash
    * family's shared artifact (the d03/q24 build-once contract):
    * fingerprinting the corpus is the dominant cost, and both the d04
    * fan-out report and the d17 pair verify probe the same band set.
    * Fingerprint-keyed to the source so regenerated data invalidates.
    */
  private def simhashBandsPath(spark: SparkSession, dir: String): String = {
    val dirKey = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    // "v1": fingerprint FORMAT version — this round already changed the
    // algorithm once (16→64 bits); without a version component in the
    // key, the next change would silently serve stale persisted bands
    // to d17 (the failure mode the IVF index key's v1→v3 bumps exist
    // to prevent, see Similarity.indexKey)
    s"${spark.conf.get("spark.sql.warehouse.dir")}/simhash_bands/" +
      s"v1src${dirKey}_${Tables.sourceKey(spark, s"$dir/documents.parquet")}"
  }

  /** Published band table, building the artifact iff missing (a fresh
    * session running d17 standalone).
    */
  private[graft] def bandsArtifact(spark: SparkSession, dir: String): DataFrame = {
    val path = simhashBandsPath(spark, dir)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p))
      graft.sources.Sinks.stagePublish(simhashBands(spark, dir), path)
    spark.read.parquet(path)
  }

  /** d04 entry: fingerprint the corpus, PUBLISH the band table
    * (stage-then-swap, like d03's candidate pairs), and report per doc
    * the four band values plus how many OTHER docs share each band (the
    * candidate-generation fan-out a dedup operator reads before running
    * the d17 pair verify). The counts probe the just-published artifact
    * — one narrow scan feeds the report row AND the four tiny band-count
    * aggregations, broadcast-joined back; a window partitioned by the
    * band keys would funnel the whole corpus into per-band-value tasks
    * (the d06 scale-killer shape, same fix).
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val path = simhashBandsPath(spark, dir)
    graft.sources.Sinks.stagePublish(simhashBands(spark, dir), path)
    val sh = spark.read.parquet(path)
    val grid = sh.groupBy(col("band0"), col("band1"), col("band2"), col("band3"))
      .agg(count(lit(1)).as("c"))
    val joined = (0 until 4).foldLeft(sh) { (acc, b) =>
      val counts = grid.groupBy(col(s"band$b")).agg(sum(col("c")).as(s"c_$b"))
      acc.join(broadcast(counts), Seq(s"band$b"))
    }
    joined.select(
      col("doc_id"), col("band0"), col("band1"), col("band2"), col("band3"),
      (col("c_0") - 1).as("n_same_b0"), (col("c_1") - 1).as("n_same_b1"),
      (col("c_2") - 1).as("n_same_b2"), (col("c_3") - 1).as("n_same_b3"))
  }

  // ─── d17 SimHash near-dup pair report (band-blocked, hamming-verified) ─
  /** The pair report the 16-bit fingerprint could not support (the
    * rejected round-4 probe): candidate pairs share ≥1 of the four
    * 16-bit bands (equi-join on (band index, band value) — the d03 LSH
    * blocking shape, never all-pairs), then the EXACT 64-bit hamming
    * distance verifies each candidate (XOR + popcount per band, on the
    * candidate slice only). `is_near_dup` at the banding guarantee
    * radius (≤3 bits): within that distance a pair ALWAYS shares a
    * band, so the report is exact over the whole corpus, not just
    * sampled candidates. Probes the band ARTIFACT d04 publishes
    * (build-if-missing) — the corpus is fingerprinted once for the
    * whole SimHash family, and this stage's own cost is the banded
    * join + verify only.
    */
  private[graft] def simhashPairsFrom(sh: DataFrame): DataFrame = {
    val lf = sh.select(col("doc_id"),
      posexplode(array(col("band0"), col("band1"), col("band2"), col("band3")))
        .as(Seq("band", "val")))
    val cand = lf.as("a")
      .join(lf.as("b"),
        col("a.band") === col("b.band") && col("a.val") === col("b.val") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
    val x = sh.select(col("doc_id").as("doc_a"),
      col("band0").as("x0"), col("band1").as("x1"),
      col("band2").as("x2"), col("band3").as("x3"))
    val y = sh.select(col("doc_id").as("doc_b"),
      col("band0").as("y0"), col("band1").as("y1"),
      col("band2").as("y2"), col("band3").as("y3"))
    val ham = (0 until 4)
      .map(i => expr(s"CAST(bit_count(x$i ^ y$i) AS BIGINT)"))
      .reduce(_ + _)
    cand.join(x, Seq("doc_a")).join(y, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
        ham.as("hamming_dist"), (ham <= 3).as("is_near_dup"))
  }

  /** Warehouse path of the published PAIR report — the SimHash family's
    * second artifact tier (bands answer "fingerprint me", pairs answer
    * "who is near whom"), mirroring the MinHash family's candidate →
    * verified-pair ladder so downstream consumers (d20 survivorship)
    * read the verified result instead of re-running the banded join.
    */
  private def simhashPairsPath(spark: SparkSession, dir: String): String = {
    val dirKey = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"${spark.conf.get("spark.sql.warehouse.dir")}/simhash_pairs/" +
      s"v1src${dirKey}_${Tables.sourceKey(spark, s"$dir/documents.parquet")}"
  }

  /** d17 entry: band-blocked, hamming-verified pair report — AND its
    * publisher (the d03/d07 build-once contract applied to the SimHash
    * route): d17 carries the banded-join + verify cost and publishes
    * the result; d20 reads the artifact.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val path = simhashPairsPath(spark, dir)
    graft.sources.Sinks.stagePublish(
      simhashPairsFrom(bandsArtifact(spark, dir)), path)
    spark.read.parquet(path)
  }

  /** Published pair report, building iff missing (a fresh session
    * running d20 standalone).
    */
  private def simhashPairsArtifact(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(simhashPairsPath(spark, dir))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) simhashPairs(spark, dir)
    else spark.read.parquet(simhashPairsPath(spark, dir))
  }

  // ─── d20 SimHash-route dedup survivorship ────────────────────────────
  /** The d07 survivorship rollup over the SIMHASH near-dup route: for
    * every doc that is the larger side of a hamming-verified near-dup
    * pair (≤ 3 bits — the banding guarantee radius, so the pair set is
    * exact over the corpus), the keep-min removal row with its
    * strongest (minimum-hamming) match. SimHash catches a different
    * near-dup slice than MinHash/Jaccard (bit-level similarity of the
    * weighted token profile vs set overlap of 3-gram shingles) — a
    * production pipeline runs both routes and unions the removal
    * lists. Pure aggregation over the d17 PAIR ARTIFACT
    * (build-if-missing): the fingerprint/band/verify cost was paid
    * once by d04/d17; this stage is one map-side-combinable groupBy.
    */
  def simhashDedup(spark: SparkSession, dir: String): DataFrame =
    simhashPairsArtifact(spark, dir)
      .filter(col("is_near_dup"))
      .groupBy(col("doc_b").as("removed_doc_id"))
      .agg(
        min(col("doc_a")).as("kept_partner"),
        count(lit(1)).as("n_dup_pairs"),
        min(col("hamming_dist")).as("min_hamming_dist"))

  // ─── d07 end-to-end dedup pipeline: LSH → verify → removal list ──────
  /** The production near-dup flow composed from the building blocks:
    * MinHash+LSH candidate pairs (d03) → exact Jaccard verification
    * computed ONLY on candidate docs (the whole point of LSH: the
    * expensive exact measure runs on a tiny candidate set, never the
    * corpus) → keep-min survivorship: for every verified pair
    * (jaccard ≥ 0.5) the larger doc_id is marked for removal.
    *
    * Verification shape: candidate-doc shingles collect into ONE sorted
    * set-array per doc (the only shuffle in the verify stage — rows are
    * per-DOC from here on, never per-shingle), then the candidate pair
    * list joins the arrays for both sides and `array_intersect` scores
    * each pair in a codegen'd projection. Earlier shapes measured worse:
    * a shared-shingle self-join computes intersections for every
    * co-shingled doc pair (1.06M pairs for 15.7k candidates at sf0.1,
    * 98.5% discarded), and even the pair-driven per-shingle join pushes
    * |cand| × shingles-per-doc (~850k) rows through a shuffle that the
    * per-doc arrays avoid entirely. Only the tiny frames persist
    * (candidate pairs + per-doc arrays), released deterministically
    * after the artifact write — nothing leaks into the caller's session.
    */
  /** Exact-verified candidate pairs: per-doc shingle SET arrays for the
    * candidate docs (doc filter BELOW the explode — the corpus is
    * scanned but barely exploded), `array_intersect` scoring, jaccard ≥
    * `minJaccard`. Returns the verified frame plus the persisted
    * intermediate the caller must unpersist after materializing.
    */
  private def verifyPairs(spark: SparkSession, dir: String, cand: DataFrame,
                          minJaccard: Double): (DataFrame, DataFrame) =
    verifyPairsOf(Tables.documents(spark, dir), cand, minJaccard)

  /** Documents-frame version of the exact verification — the d19 shard
    * probe verifies against corpus ∪ shard, not a source dir.
    */
  private def verifyPairsOf(docs: DataFrame, cand: DataFrame,
                            minJaccard: Double): (DataFrame, DataFrame) = {
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val shSets = shingleSetsOf(
        docs.join(broadcast(candDocs), Seq("doc_id"), "left_semi"))
      .persist()
    verifyWithSets(shSets, cand, minJaccard)
  }

  /** Per-doc shingle SET arrays (doc_id, sh_set, n) — the verification
    * currency: `array_intersect` scores pairs against these. Split out
    * because the arrays are ALSO an artifact tier (d19 persists the
    * standing corpus's arrays so re-verification per arriving shard
    * stops re-exploding corpus text).
    */
  private def shingleSetsOf(docs: DataFrame): DataFrame =
    shingleSetsFrom(wordShinglesOf(docs, dedup = false))

  /** Set-array aggregation over an existing (doc_id, shingle) frame —
    * the seam that lets a caller holding a persisted shingle frame
    * (ingestShardCore's two tier writes) derive the arrays without a
    * second text explosion.
    */
  private def shingleSetsFrom(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("sh_set"))
      .select(col("doc_id"), col("sh_set"), size(col("sh_set")).cast("long").as("n"))

  /** Exact-Jaccard scoring of `cand` against an ALREADY-PERSISTED
    * (doc_id, sh_set, n) frame (both pair sides join it). Returns the
    * verified frame plus that same frame for the caller to unpersist.
    */
  private def verifyWithSets(shSets: DataFrame, cand: DataFrame,
                             minJaccard: Double): (DataFrame, DataFrame) = {
    val verified = cand
      .join(shSets.select(col("doc_id").as("doc_a"), col("sh_set").as("set_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(shSets.select(col("doc_id").as("doc_b"), col("sh_set").as("set_b"), col("n").as("n_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
    (verified, shSets)
  }

  /** Warehouse path for the VERIFIED pair artifact (jaccard ≥ 0.5) —
    * the tier above the candidate artifact: candidates answer "which
    * pairs might be near-dups", verified pairs answer "which pairs ARE".
    * Every downstream consumer (dedup survivorship d07, decontamination
    * d08, source-overlap d09) reads the same exact-measure result
    * instead of re-running the array_intersect verification per query —
    * the round-3 shape, where d08/d09 each re-paid the verify pass d07
    * had just run. Fingerprint-keyed to the source like the candidates.
    */
  private def verifiedPath(spark: SparkSession, dir: String,
                           nBands: Int, rowsPerBand: Int): String = {
    val dirKey = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"${spark.conf.get("spark.sql.warehouse.dir")}/verified_pairs/" +
      s"src${dirKey}_${Tables.sourceKey(spark, s"$dir/documents.parquet")}" +
      s"_b${nBands}r$rowsPerBand" // derived from the candidates: same key rule
  }

  /** Build + publish the verified-pair artifact: candidate pairs (their
    * artifact, build-if-missing, at the chosen banding) → exact Jaccard
    * on the candidate slice → pairs with jaccard ≥ 0.5, stage-published.
    * Carries the whole verification cost; returns the published frame.
    */
  private def buildVerified(spark: SparkSession, dir: String): DataFrame = {
    val (nb, nr) = chosenBanding(spark, dir)
    val cand = candidates(spark, dir).persist()
    val (verified, shSets) = verifyPairs(spark, dir, cand, minJaccard = 0.5)
    val path = verifiedPath(spark, dir, nb, nr)
    graft.sources.Sinks.stagePublish(
      verified.select(col("doc_a"), col("doc_b"), col("jaccard")), path)
    cand.unpersist(false)
    shSets.unpersist(false)
    spark.read.parquet(path)
  }

  /** Published verified pairs, building the artifact iff missing (a
    * fresh session running d08/d09 standalone, or a changed banding
    * decision — the banding keys this path like the candidates').
    */
  private def verifiedPairsArtifact(spark: SparkSession, dir: String): DataFrame = {
    val (nb, nr) = chosenBanding(spark, dir)
    val path = verifiedPath(spark, dir, nb, nr)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) buildVerified(spark, dir)
    else spark.read.parquet(path)
  }

  def dedupPipeline(spark: SparkSession, dir: String): DataFrame = {
    // d07 CARRIES the verification build (always re-verifies and
    // republishes, like d03 for candidates and q24 for the IVF index);
    // the survivorship rollup is then a pure aggregation of the artifact
    val verified = buildVerified(spark, dir)
    verified.groupBy(col("doc_b").as("removed_doc_id"))
      .agg(
        min(col("doc_a")).as("kept_partner"),
        count(lit(1)).as("n_dup_pairs"),
        max(col("jaccard")).as("max_jaccard"))
  }

  // ─── d21 dual-route removal union ────────────────────────────────────
  /** The union the route docs promise: one removal list combining the
    * Jaccard route (d07's verified pairs — set overlap of 3-gram
    * shingles) and the SimHash route (d20's hamming-verified pairs —
    * bit-level similarity of the weighted token profile), with per-doc
    * route attribution. The two routes catch DIFFERENT near-dup slices;
    * what a curation run actually removes is this union, and the
    * attribution columns are how an operator audits each route's
    * marginal contribution before tuning its threshold.
    *
    * Scale: pure aggregation over the two published PAIR artifacts
    * (build-if-missing) — two tiny keep-min rollups full-outer-joined
    * on the removed doc. No corpus scan at all.
    */
  def dedupRouteUnion(spark: SparkSession, dir: String): DataFrame = {
    val jrem = verifiedPairsArtifact(spark, dir)
      .groupBy(col("doc_b").as("removed_doc_id"))
      .agg(min(col("doc_a")).as("j_kept"))
    val srem = simhashPairsArtifact(spark, dir)
      .filter(col("is_near_dup"))
      .groupBy(col("doc_b").as("removed_doc_id"))
      .agg(min(col("doc_a")).as("s_kept"))
    jrem.join(srem, Seq("removed_doc_id"), "full_outer")
      .select(col("removed_doc_id"),
        col("j_kept").isNotNull.as("by_jaccard"),
        col("s_kept").isNotNull.as("by_simhash"),
        // least() skips nulls in both engines: the kept partner is the
        // smallest doc either route paired the removal with
        least(col("j_kept"), col("s_kept")).as("kept_partner"))
  }

  // ─── d19 incremental shard dedup (probe the standing index) ──────────
  /** Incremental dedup of a NEW document shard against a standing
    * corpus WITHOUT recomputing the corpus side — the production
    * curation flow (each crawl shard dedups against the published
    * index, not against a full-corpus rebuild): the shard's MinHash
    * band rows probe the corpus's published per-doc BAND TABLE by
    * band-bucket equi-join (plus a shard-internal self-join), and the
    * exact Jaccard verification runs only on the candidate slice. The
    * report uses d07's keep-min survivorship, which keeps incremental
    * EXACTLY equal to a full rebuild: a full rebuild's candidate pairs
    * restricted to shard-involving pairs are precisely the probe's
    * pairs (band rows are per-doc and deterministic), so
    * standing-corpus removals ∪ this report's removals == the
    * full-rebuild removal set — DedupSpec pins the equality on a split
    * corpus. (Keep-min also means a shard doc can RETRO-REMOVE a
    * larger-id corpus doc; `is_shard_doc` separates the two cases —
    * the corpus-wins policy of some deployments is this report with
    * the retro rows filtered out.)
    *
    * Scale: the corpus side is READ, never recomputed — the whole
    * point. Shard bands are computed over the (small) shard only; the
    * probe is a band-bucket equi-join of shard bands against the index
    * (shard-sized output, never all-pairs); verification touches
    * candidate docs only.
    */
  def shardProbe(corpusDocs: DataFrame, shardDocs: DataFrame,
                 corpusBands: DataFrame,
                 corpusSets: Option[DataFrame] = None,
                 shardPrebuilt: Option[(DataFrame, DataFrame)] = None,
                 banding: (Int, Int) = (6, 3)): DataFrame = {
    val (report, shSets) =
      shardProbeFrame(corpusDocs, shardDocs, corpusBands, corpusSets,
        shardPrebuilt, banding)
    // the verify stage persists its per-doc shingle arrays (they feed
    // both join sides); the report is tiny, so materialize it eagerly
    // and release the intermediate before returning — the
    // buildVerified discipline, without an artifact write
    val out = report.localCheckpoint()
    shSets.unpersist(false)
    out
  }

  /** Lazy (report, persisted-intermediate) pair behind [[shardProbe]] —
    * split out so PlanHygieneSpec can pin the probe's plan shape before
    * the eager checkpoint erases it. With `corpusSets` the corpus side
    * of the verification reads PRE-BUILT shingle arrays (the standing
    * index's third artifact tier) instead of re-exploding corpus text —
    * only the shard's own arrays are computed per arriving shard.
    */
  private[graft] def shardProbeFrame(corpusDocs: DataFrame, shardDocs: DataFrame,
                                     corpusBands: DataFrame,
                                     corpusSets: Option[DataFrame] = None,
                                     // (bands, shingle arrays) ALREADY PUBLISHED for the shard —
                                     // ingestShardCore publishes its tiers first and probes the
                                     // read-back, so the shard's text is exploded twice per tick
                                     // (once per tier write), not four times
                                     shardPrebuilt: Option[(DataFrame, DataFrame)] = None,
                                     // MUST match the banding `corpusBands` was built with —
                                     // bands of different (b, r) never bucket-collide, so a
                                     // mismatch silently probes nothing
                                     banding: (Int, Int) = (6, 3)): (DataFrame, DataFrame) = {
    val shardBands = shardPrebuilt.map(_._1)
      .getOrElse(minhashBandsOf(wordShinglesOf(shardDocs, dedup = false),
        banding._1, banding._2))
    // shard bands vs (corpus ∪ shard) bands: shard×corpus pairs appear
    // once, shard×shard twice (both orientations) — least/greatest +
    // distinct normalizes to the same unordered pair set a full
    // rebuild's a.doc_id < b.doc_id join produces on shard-involving
    // pairs
    val all = corpusBands.union(shardBands)
    val cand = shardBands.as("a").join(all.as("b"),
        col("a.band_j") === col("b.band_j") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val corpusSide = corpusSets match {
      case Some(cs) => cs.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      case None => shingleSetsOf(
        corpusDocs.join(broadcast(candDocs), Seq("doc_id"), "left_semi"))
    }
    val shardSide = shardPrebuilt.map(_._2.join(broadcast(candDocs), Seq("doc_id"), "left_semi"))
      .getOrElse(shingleSetsOf(
        shardDocs.join(broadcast(candDocs), Seq("doc_id"), "left_semi")))
    val shSets = corpusSide.unionByName(shardSide).persist()
    val (verified, _) = verifyWithSets(shSets, cand, minJaccard = 0.5)
    val report = verified.groupBy(col("doc_b").as("removed_doc_id"))
      .agg(
        min(col("doc_a")).as("kept_partner"),
        count(lit(1)).as("n_dup_pairs"),
        max(col("jaccard")).as("max_jaccard"))
    // the flag derives from the SHARD FRAME itself (a tiny-report ⋈
    // shard-ids join), not a membership predicate the caller must
    // duplicate — which is what lets a streaming micro-batch, whose
    // membership IS "rows of this batch", ride the same probe
    val shardIds = shardDocs
      .select(col("doc_id").as("removed_doc_id"), lit(true).as("is_shard_doc"))
    val flagged = report.join(shardIds, Seq("removed_doc_id"), "left")
      .withColumn("is_shard_doc", coalesce(col("is_shard_doc"), lit(false)))
    (flagged, shSets)
  }

  /** Removal-id set (distinct doc_b of keep-min-verified pairs) over an
    * arbitrary documents frame — the full-rebuild reference DedupSpec
    * compares the incremental shard path against.
    */
  private[graft] def removalSetOf(docs: DataFrame,
                                  banding: (Int, Int) = (6, 3)): DataFrame = {
    val (verified, shSets) = verifyPairsOf(docs,
      bandPairs(minhashBandsOf(
        wordShinglesOf(docs, dedup = false), banding._1, banding._2)),
      minJaccard = 0.5)
    val out = verified.select(col("doc_b")).distinct().localCheckpoint()
    shSets.unpersist(false)
    out
  }

  /** Standing-index path for the d19 demo split: the band table of the
    * held-out corpus (doc_id % 5 ≠ 4), fingerprint-keyed to the source
    * like every artifact. "holdout5" marks the split spec — a real
    * deployment keys this by corpus snapshot.
    */
  private def corpusBandsPath(spark: SparkSession, dir: String,
                              nBands: Int, rowsPerBand: Int): String = {
    val dirKey = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"${spark.conf.get("spark.sql.warehouse.dir")}/lsh_bands/" +
      s"holdout5src${dirKey}_${Tables.sourceKey(spark, s"$dir/documents.parquet")}" +
      s"_b${nBands}r$rowsPerBand"
  }

  /** Shingle-array sibling of [[corpusBandsPath]] — the standing
    * index's THIRD artifact tier (bands → pairs → verification
    * arrays): per-doc sorted shingle sets of the held-out corpus, so
    * each arriving shard's exact verification reads arrays instead of
    * re-exploding corpus text.
    */
  private def corpusSetsPath(spark: SparkSession, dir: String): String = {
    val dirKey = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"${spark.conf.get("spark.sql.warehouse.dir")}/shingle_sets/" +
      s"holdout5src${dirKey}_${Tables.sourceKey(spark, s"$dir/documents.parquet")}"
  }

  /** d19 entry: split the documents table into a standing corpus
    * (doc_id % 5 ≠ 4) and an arriving shard (doc_id % 5 = 4), publish
    * the corpus band table AND its verification arrays iff missing
    * (the standing index a previous run would have left), probe the
    * shard against them, and return the shard-involving removal
    * report. Per-shard cost is then: shard fingerprinting + the
    * banded probe join + array-vs-array verification — the corpus is
    * neither re-fingerprinted nor re-exploded.
    */
  def shardDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isShard = pmod(col("doc_id"), lit(5L)) === 4
    val corpus = docs.filter(!isShard)
    val shard = docs.filter(isShard)
    val conf = spark.sessionState.newHadoopConf()
    // the standing band index follows the d26 decision, like the d03
    // candidates (banding-keyed path: a changed decision is a fresh
    // index build, never a mixed-banding probe)
    val (nb, nr) = chosenBanding(spark, dir)
    val bandsP = corpusBandsPath(spark, dir, nb, nr)
    if (!new org.apache.hadoop.fs.Path(bandsP).getFileSystem(conf)
          .exists(new org.apache.hadoop.fs.Path(bandsP)))
      graft.sources.Sinks.stagePublish(
        minhashBandsOf(wordShinglesOf(corpus, dedup = false), nb, nr), bandsP)
    val setsP = corpusSetsPath(spark, dir)
    if (!new org.apache.hadoop.fs.Path(setsP).getFileSystem(conf)
          .exists(new org.apache.hadoop.fs.Path(setsP)))
      graft.sources.Sinks.stagePublish(shingleSetsOf(corpus), setsP)
    shardProbe(corpus, shard, spark.read.parquet(bandsP),
      Some(spark.read.parquet(setsP)), banding = (nb, nr))
  }

  // ─── growing-index shard ingest (the composed daily-DAG primitive) ───
  /** One scheduler tick of the production curation flow: ingest doc
    * shard `shardId` (of a deterministic `nShards` split) into a
    * GROWING standing index under `indexDir`, returning the shard's
    * removal report. Unlike the d19 demo entry (whose standing corpus
    * is a fixed holdout), the index here accumulates one partition per
    * ingested shard across invocations — the shape a daily DAG
    * actually runs (dags/retail_etl_dag.py:1 daily schedule), with
    * each tick publishing three shard-keyed tiers:
    *
    *  - `bands/shard=<i>`   — the shard's MinHash band rows,
    *  - `sets/shard=<i>`    — its per-doc shingle arrays,
    *  - `removals/shard=<i>` — its keep-min removal report.
    *
    * The probe reads every published shard partition EXCEPT the
    * shard's own (a retry must not probe against its own previous
    * publish), so RE-RUNNING a tick is idempotent: it overwrites only
    * its own three partitions (Sinks.stagePublish swap), and the
    * union of removal ids over all published reports stays EXACTLY
    * the full-rebuild removal set — every unordered near-dup pair is
    * discovered at the ingest of its LATER shard (same-shard pairs at
    * their own ingest via the self-join), and a backfill re-run can
    * only rediscover pairs some other report already holds. The
    * keep-min argument is d19's, applied inductively over the
    * schedule; PipelineSpec pins the equality on a 3-shard schedule
    * with a re-run.
    *
    * Scale: per-tick cost is shard fingerprinting + the band-bucket
    * probe join + array-vs-array verification on the candidate slice —
    * the standing corpus is READ (pruned to candidate docs by the
    * left-semi join inside the probe), never recomputed. The removal
    * union read [[standingRemovals]] is a scan of tiny per-shard
    * reports.
    */
  def shardIngest(spark: SparkSession, dir: String, indexDir: String,
                  shardId: Int, nShards: Int): DataFrame = {
    require(nShards > 0 && shardId >= 0 && shardId < nShards,
      s"shard $shardId out of range for $nShards-way split")
    val docs = Tables.documents(spark, dir)
    ingestShardCore(
      docs.filter(pmod(col("doc_id"), lit(nShards.toLong)) === shardId),
      indexDir, shardId.toString,
      // the banding chosen at the time the index is CREATED; once the
      // index exists its own `_banding` meta wins (see indexBanding)
      creationBanding = chosenBanding(spark, dir))
  }

  /** The growing index's banding, pinned at creation: the first ingest
    * writes `<indexDir>/_banding` (atomic create-then-rename) and every
    * later tick reads it — band rows of different (b, r) never
    * bucket-collide, so an index MUST keep one banding for its whole
    * life even if the d26 decision changes underneath (a re-decision
    * means a new index build, exactly like the d03 artifact's
    * banding-keyed path). The underscore name keeps the meta file
    * invisible to every parquet listing over the index.
    */
  private def indexBanding(spark: SparkSession, indexDir: String,
                           creation: (Int, Int)): (Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/_banding")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) {
      val in = fs.open(p)
      try {
        val Array(b, r) = scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim.split(" ")
        (b.toInt, r.toInt)
      } finally in.close()
    } else {
      val tmp = new org.apache.hadoop.fs.Path(
        s"$indexDir/_banding_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write(s"${creation._1} ${creation._2}".getBytes("UTF-8"))
      finally out.close()
      if (!fs.rename(tmp, p)) fs.delete(tmp, true) // concurrent creator won
      // re-read: whoever won the rename defines the index's banding
      val in = fs.open(p)
      try {
        val Array(b, r) = scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim.split(" ")
        (b.toInt, r.toInt)
      } finally in.close()
    }
  }

  /** Shard-frame core of [[shardIngest]]: probe an ARBITRARY shard
    * frame against every published shard partition except `shardKey`'s
    * own, then publish the three tiers under that key. The corpus side
    * is always the published artifacts (bands + shingle arrays) — the
    * raw corpus docs frame is never needed, so any source of shards
    * works: the batch scheduler's pmod split (integer keys) or a
    * streaming micro-batch (the CurationStream "b<batchId>" keys).
    */
  private[graft] def ingestShardCore(shard: DataFrame, indexDir: String,
                                     shardKey: String,
                                     creationBanding: (Int, Int) = (6, 3)): DataFrame = {
    val spark = shard.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val (nb, nr) = indexBanding(spark, indexDir, creationBanding)
    val bandsDir = new org.apache.hadoop.fs.Path(s"$indexDir/bands")
    val fs = bandsDir.getFileSystem(conf)
    // published shards = the shard=<key> partitions already on disk,
    // minus this tick's own (retry semantics)
    val published: Seq[String] =
      if (!fs.exists(bandsDir)) Seq.empty
      else fs.listStatus(bandsDir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("shard=")).map(_.stripPrefix("shard="))
        .filter(_ != shardKey).sorted
    val emptyDocs = shard.filter(lit(false))
    val standingBands =
      if (published.isEmpty)
        minhashBandsOf(wordShinglesOf(emptyDocs, dedup = false), nb, nr)
      else spark.read.parquet(published.map(k => s"$indexDir/bands/shard=$k"): _*)
    val standingSets =
      if (published.isEmpty) None
      else Some(spark.read.parquet(published.map(k => s"$indexDir/sets/shard=$k"): _*))
    // publish the shard's band + array tiers FIRST (one text explosion
    // each), then probe the READ-BACK — the probe's shard side costs
    // parquet reads instead of two more explosions. Crash between the
    // tier writes and the report publish is the same retry story as
    // before: stage-swap republish is idempotent, and another shard
    // probing the half-ingested tiers can only DISCOVER pairs this
    // shard's retried report would also hold.
    val bandsP = s"$indexDir/bands/shard=$shardKey"
    val setsP = s"$indexDir/sets/shard=$shardKey"
    // ONE text explosion per tick, shared by both tier writes (the
    // band and array tiers each derived their own shingle frame —
    // round-14): persisted only across the two eager publishes, then
    // released before the probe.
    val shardSh = wordShinglesOf(shard, dedup = false).persist()
    // materialize the shared shingle frame with ONE cheap action, then
    // run the two independent tier publishes CONCURRENTLY (guide §2.6:
    // overlap independent jobs — each publish is a small write + a
    // footer-only count, mostly per-job latency; sequential they cost
    // ~1.5 s of a ~3.4 s tick at sf0.1). Materializing first means the
    // concurrent consumers read cached blocks instead of racing to
    // compute the same partitions twice.
    shardSh.write.mode("overwrite").format("noop").save()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      Seq(
        scala.concurrent.Future { graft.sources.Sinks.stagePublish(
          minhashBandsOf(shardSh, nb, nr), bandsP): Unit },
        scala.concurrent.Future { graft.sources.Sinks.stagePublish(
          shingleSetsFrom(shardSh), setsP): Unit })
        .foreach(scala.concurrent.Await.result(_,
          scala.concurrent.duration.Duration.Inf))
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS): Unit
    }
    shardSh.unpersist(false)
    // the report publishes straight from the LAZY probe frame — the
    // publish's write job is the report's one materialization (the
    // former shardProbe localCheckpoint added a full extra
    // materialization job per tick just to outlive shSets, which the
    // publish-then-read-back makes redundant); the returned frame reads
    // the published partition, immutable until this tick's own replay.
    val (flagged, shSets) = shardProbeFrame(emptyDocs, shard, standingBands,
      standingSets,
      shardPrebuilt = Some((spark.read.parquet(bandsP), spark.read.parquet(setsP))),
      banding = (nb, nr))
    val removalsP = s"$indexDir/removals/shard=$shardKey"
    graft.sources.Sinks.stagePublish(flagged, removalsP)
    shSets.unpersist(false)
    spark.read.parquet(removalsP)
  }

  /** Compact the growing shard index: fold every published shard
    * partition (prior compactions included) into ONE generation-keyed
    * partition per tier (`shard=c<n>`), then remove the sources — the
    * quiet-hour maintenance a per-batch-growing index needs so probe
    * cost stays O(index size), not O(index size + partition count).
    * Returns the number of partitions folded (0 = nothing to do).
    *
    * Probe semantics are preserved EXACTLY: band rows merge as a set
    * union and candidate generation distincts band-bucket pairs, so
    * even the crash window where old and new partitions briefly
    * coexist can only duplicate band rows, never change the pair set
    * a future probe discovers; re-running compaction cleans the
    * leftovers. The removal tier rolls up by keep-min (min
    * kept_partner / max jaccard commute with the merge; n_dup_pairs
    * sums, an upper bound when a replayed tick recorded a pair twice;
    * is_shard_doc becomes "was ever a shard-side removal" —
    * historical, like the rest of the report after its shard
    * boundary dissolves). Single-writer like every artifact family:
    * don't compact concurrently with an ingest tick.
    */
  def compactIndex(spark: SparkSession, indexDir: String): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val bandsDir = new org.apache.hadoop.fs.Path(s"$indexDir/bands")
    val fs = bandsDir.getFileSystem(conf)
    if (!fs.exists(bandsDir)) return 0
    val keys = fs.listStatus(bandsDir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("shard=")).map(_.stripPrefix("shard="))
    if (keys.size <= 1) return 0
    val gen = 1 + keys.filter(_.matches("c[0-9]+")).map(_.tail.toInt)
      .foldLeft(-1)(math.max)
    val target = s"c$gen"
    graft.sources.Sinks.stagePublish(
      spark.read.parquet(keys.map(k => s"$indexDir/bands/shard=$k"): _*),
      s"$indexDir/bands/shard=$target")
    graft.sources.Sinks.stagePublish(
      spark.read.parquet(keys.map(k => s"$indexDir/sets/shard=$k"): _*),
      s"$indexDir/sets/shard=$target")
    graft.sources.Sinks.stagePublish(
      spark.read.parquet(keys.map(k => s"$indexDir/removals/shard=$k"): _*)
        .groupBy(col("removed_doc_id"))
        .agg(min(col("kept_partner")).as("kept_partner"),
          sum(col("n_dup_pairs")).as("n_dup_pairs"),
          max(col("max_jaccard")).as("max_jaccard"),
          max(col("is_shard_doc")).as("is_shard_doc")),
      s"$indexDir/removals/shard=$target")
    // sources go only after all three consolidated tiers are live
    keys.foreach { k =>
      Seq("bands", "sets", "removals").foreach { tier =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/$tier/shard=$k"), true)
      }
    }
    keys.size
  }

  /** The standing removal table a consumer reads after any number of
    * [[shardIngest]] ticks: keep-min rollup over every published
    * per-shard report (a re-run or backfill may record the same
    * removed doc in two reports — the rollup collapses them the same
    * way d07 collapses pairs).
    */
  def standingRemovals(spark: SparkSession, indexDir: String): DataFrame = {
    val remDir = new org.apache.hadoop.fs.Path(s"$indexDir/removals")
    val fs = remDir.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(remDir), s"no shard removals published under $indexDir")
    val parts = fs.listStatus(remDir).toSeq.map(_.getPath.toString)
      .filter(_.contains("shard="))
    spark.read.parquet(parts: _*)
      .groupBy(col("removed_doc_id"))
      .agg(min(col("kept_partner")).as("kept_partner"),
        max(col("max_jaccard")).as("max_jaccard"))
  }

  // ─── d08 benchmark decontamination report ────────────────────────────
  /** Train/test contamination check — the decontamination pass every
    * LLM data pipeline runs before training: treat two sources as the
    * held-out benchmark suite, find corpus docs that near-duplicate a
    * benchmark doc (LSH candidates → exact Jaccard ≥ 0.5 on the
    * candidate slice, the d07 machinery restricted to boundary-crossing
    * pairs), and emit ONE ROW PER BENCHMARK DOC — zero-match rows
    * included, because "nothing leaked" is the result the report
    * exists to prove.
    *
    * Scale: a pure aggregation over the VERIFIED-pair artifact (the
    * boundary-crossing subset of verified pairs == the verified subset
    * of boundary-crossing candidates — the crossing filter commutes with
    * the exact measure at the same threshold). No shingle work, no
    * persists: the only corpus-sized frames are two narrow flag
    * projections the tiny pair set joins against.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val benchSources = Seq("src0", "src1")
    val flags = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source").isin(benchSources: _*).as("is_bench"))
    val crossing = verifiedPairsArtifact(spark, dir)
      .join(flags.select(col("doc_id").as("doc_a"), col("is_bench").as("bench_a")), Seq("doc_a"))
      .join(flags.select(col("doc_id").as("doc_b"), col("is_bench").as("bench_b")), Seq("doc_b"))
      .filter(col("bench_a") =!= col("bench_b"))
      .select(
        when(col("bench_a"), col("doc_a")).otherwise(col("doc_b")).as("bench_doc_id"),
        when(col("bench_a"), col("doc_b")).otherwise(col("doc_a")).as("corpus_doc_id"),
        col("jaccard"))
    val summary = crossing.groupBy(col("bench_doc_id"))
      .agg(
        count(lit(1)).as("n_matches"),
        max(col("jaccard")).as("max_jaccard"),
        min(col("corpus_doc_id")).as("nearest_corpus_doc"))
    flags.filter(col("is_bench")).select(col("doc_id").as("bench_doc_id"))
      .join(broadcast(summary), Seq("bench_doc_id"), "left")
      .select(col("bench_doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
        col("nearest_corpus_doc"))
  }

  // ─── d09 cross-source overlap matrix ─────────────────────────────────
  /** Which sources duplicate which — the dataset-mixing report a
    * curation run reads before weighting sources: verified near-dup
    * pairs (the d07 machinery) rolled up to unordered (source, source)
    * cells with pair counts, exact-dup counts, and the strongest
    * overlap. Diagonal cells (within-source duplication) included —
    * they are usually the largest and drive per-source dedup budgets.
    *
    * Determinism: count / max aggregations only (no float summation
    * whose order could vary with partitioning).
    *
    * Scale: a pure aggregation over the VERIFIED-pair artifact — the
    * TINY pair set is broadcast against the streamed corpus source
    * column (never the corpus broadcast against the pairs), so the plan
    * is two broadcast joins + one small groupBy at any corpus size.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val verified = verifiedPairsArtifact(spark, dir)
    val withA = docs.select(col("doc_id").as("doc_a"), col("source").as("sa"))
      .join(broadcast(verified), Seq("doc_a"))
    val withSrc = docs.select(col("doc_id").as("doc_b"), col("source").as("sb"))
      .join(broadcast(withA), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("jaccard"))
    withSrc.groupBy(col("source_a"), col("source_b"))
      .agg(
        count(lit(1)).as("n_dup_pairs"),
        sum(when(col("jaccard") === 1.0, 1L).otherwise(0L)).as("n_identical"),
        max(col("jaccard")).as("max_jaccard"))
  }

  // ─── d10 post-dedup effective mixture report ─────────────────────────
  /** What actually enters training after near-dup removal: per
    * (source, lang), raw vs kept doc and token counts and the kept
    * share — the mixture table a curation run reads to set source
    * weights AFTER dedup has taken its cut (raw token counts overstate
    * a duplicate-heavy source). Third consumer of the verified-pair
    * artifact: the d07 keep-min removal set (distinct larger doc of
    * each verified pair) anti-flags docs in one broadcast join; token
    * counts are the t03 whitespace census. Integer aggregations + one
    * final division — bit-stable at any parallelism.
    */
  def effectiveMixture(spark: SparkSession, dir: String): DataFrame = {
    val removed = verifiedPairsArtifact(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("is_removed", lit(true))
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long").as("toks"))
    d.join(broadcast(removed), Seq("doc_id"), "left")
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("is_removed"), 1L).otherwise(0L)).as("n_removed"),
        sum(col("toks")).as("tokens_total"),
        sum(when(col("is_removed").isNull, col("toks")).otherwise(0L)).as("tokens_kept"))
      .withColumn("pct_tokens_kept",
        col("tokens_kept").cast("double") / col("tokens_total").cast("double"))
  }

  // ─── d12 transitive dup clusters (connected components) ──────────────
  /** Transitive closure of the verified near-dup graph — the step after
    * pairwise verification in a production dedup run: near-dups CHAIN
    * (a~b and b~c without a~c whenever edits accumulate past the
    * threshold), and pairwise survivorship (d07) can over- or
    * under-remove across a chain. Every connected component is grouped
    * under its minimum doc id with its removal budget (n_docs - 1),
    * source spread, and the strength of its strongest internal pair.
    *
    * Algorithm: pointer-doubled min-label propagation to fixpoint over
    * the pair graph — per hop one equi-join on the node id, one
    * label-frame self-join (the doubling shortcut), and a
    * min-aggregate, all map-side combinable. Iterations = O(log
    * diameter), so even pathological near-dup chains converge well
    * inside the 25-hop loud-abort guard. Scale: the propagation only
    * ever touches the PAIR graph (docs with at least one verified
    * near-dup — orders smaller than the corpus); the corpus itself is
    * streamed ONCE against the broadcast final assignment for the
    * source rollup. Fourth consumer of the verified-pair artifact.
    */
  /** Connected components of an undirected graph given as one-direction
    * edge rows `(a, b)` with long node ids: returns `(node, component)`
    * where component = the minimum node id reachable. Min-label
    * propagation ACCELERATED by pointer doubling: each hop takes the
    * min over (own label, neighbors' labels, label-of-own-label — the
    * shortcut that doubles effective reach per hop), so iterations =
    * O(log diameter) instead of diameter; a 60-node chain converges in
    * 6 hops where plain propagation needs 59 and would trip the
    * `maxHops` guard. The shortcut stays inside the component: a label
    * is always the id of a reachable node, so its label is also
    * reachable. Per hop: one equi-join on the node id against the edge
    * frame, one self-join on the label frame (node-cardinality — small
    * next to the edges), one min-aggregate, all map-side combinable. A
    * graph that still exceeds `maxHops` (2^25-diameter) aborts loudly
    * rather than mis-label. Each hop's frame is localCheckpoint-ed: the
    * loop's plans stay flat and re-runs of downstream actions can't
    * recompute a different iteration count (blocks are released by the
    * caller's clearCache / JVM exit — Bench clears between queries).
    */
  def connectedComponents(edgesOneWay: DataFrame, maxHops: Int = 25): DataFrame = {
    val spark = edgesOneWay.sparkSession
    val edges = edgesOneWay.toDF("a", "b")
      .union(edgesOneWay.toDF("b", "a").select(col("a"), col("b")))
      .localCheckpoint()
    var labels = edges.select(col("a").as("v")).distinct()
      .withColumn("lbl", col("v"))
      .localCheckpoint()
    var converged = false
    var hops = 0
    while (!converged && hops < maxHops) {
      // Convergence detection rides INSIDE the hop's one materialization
      // job: the previous label joins the min-aggregate as a tagged
      // union branch (every v keeps exactly one prev row — max() just
      // un-tags it), and an accumulator counts rows whose label
      // strictly dropped as the eager localCheckpoint streams them.
      // The round-5 shape ran a separate labels-join + limit(1).count()
      // per hop — ~2 serialized driver round-trips per hop was the
      // reason d12 degraded worst under contention. A task retry can
      // only OVER-count the accumulator (never under): the worst case
      // is one redundant extra hop, never a premature exit.
      val changedAcc = spark.sparkContext.longAccumulator(s"cc_changed_hop_$hops")
      val markChanged = udf { changed: Boolean =>
        if (changed) changedAcc.add(1L)
        changed
      }.asNondeterministic()
      val viaPtr = labels
        .join(labels.select(col("v").as("lbl"), col("lbl").as("lbl2")), Seq("lbl"))
        .select(col("v"), col("lbl2").as("lbl"))
      val nullPrev = lit(null).cast("long")
      val next = labels.select(col("v"), col("lbl"), col("lbl").as("prev"))
        .union(edges.join(labels.withColumnRenamed("v", "a"), Seq("a"))
          .select(col("b").as("v"), col("lbl"), nullPrev))
        .union(viaPtr.select(col("v"), col("lbl"), nullPrev))
        .groupBy(col("v")).agg(min(col("lbl")).as("lbl"), max(col("prev")).as("prev"))
        .select(col("v"), col("lbl"),
          markChanged(col("lbl") < col("prev")).as("changed"))
        .localCheckpoint()
      converged = changedAcc.value == 0L
      labels = next.select(col("v"), col("lbl"))
      hops += 1
    }
    require(converged, s"label propagation did not converge in $hops hops")
    labels.select(col("v").as("node"), col("lbl").as("component"))
  }

  /** Per-doc connected-component assignment (doc_id, cluster_id) over
    * the verified-pair graph; cluster_id = min doc id in the component.
    * Only docs with at least one verified near-dup appear.
    */
  def dupClusterAssignment(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(
        verifiedPairsArtifact(spark, dir).select(col("doc_a"), col("doc_b")))
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))

  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val verified = verifiedPairsArtifact(spark, dir)
    val assign = dupClusterAssignment(spark, dir)
    val cstats = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(broadcast(assign), Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        (count(lit(1)) - 1).as("n_removed"),
        countDistinct(col("source")).as("n_sources"))
    val pstats = verified
      .join(broadcast(assign.select(col("doc_id").as("doc_a"), col("cluster_id"))), Seq("doc_a"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
    cstats.join(pstats, Seq("cluster_id"))
  }

  // ─── d13 exact n-gram collision decontamination ──────────────────────
  /** The n-gram-collision decontamination standard (13-gram overlap, as
    * used for GPT-3/PaLM-style training-set filtering): a corpus doc is
    * contaminated when ANY of its word 13-grams also appears in a
    * held-out benchmark doc. Complements d08 — d08 finds benchmark
    * NEAR-duplicates via LSH + Jaccard; d13 finds verbatim PASSAGE
    * overlap no matter how different the rest of the doc is. One row
    * per corpus doc long enough to have a 13-gram (zero rows included —
    * the filter's keep-list is the point).
    *
    * Scale: 13-grams are md5-hashed BEFORE the distinct/shuffle (32-hex
    * keys, not ~90-byte strings); candidate matching is one equi-join
    * on the hash — the bench side is a benchmark suite (tiny in real
    * deployments, broadcastable, but left declarative so AQE picks);
    * both aggregations are map-side combinable. No windows, no
    * all-pairs work.
    */
  /** Distinct (doc, is_bench, 13-gram-md5) frame shared by d13 (exact
    * join decontamination) and d18 (Bloom-sketch decontamination) — one
    * definition so the two stages provably screen the same grams.
    */
  private def contaminationGrams(spark: SparkSession, dir: String,
                                 benchSources: Seq[String], n: Int): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source").isin(benchSources: _*).as("is_bench"),
        regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), col("is_bench"),
        explode(transform(sequence(lit(0), size(col("t")) - n),
          i => md5(array_join(slice(col("t"), i + 1, lit(n)), " ")))).as("h"))
      .distinct()

  def ngramContamination(spark: SparkSession, dir: String): DataFrame = {
    val grams = contaminationGrams(spark, dir, Seq("src0", "src1"), 13)
    val bench = grams.filter(col("is_bench"))
      .select(col("doc_id").as("bench_doc_id"), col("h"))
    val corpus = grams.filter(!col("is_bench")).select(col("doc_id"), col("h"))
    // ONE left join + ONE aggregation serves totals, collisions, and
    // bench-doc counts together (count(DISTINCT) ignores the nulls the
    // left join leaves on clean grams) — the hits-join + totals-agg +
    // join-back form re-derived the gram frame per consumer, re-scanning
    // the corpus
    corpus.join(bench, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("h")).as("n_ngrams"),
        countDistinct(when(col("bench_doc_id").isNotNull, col("h"))).as("n_collisions"),
        countDistinct(col("bench_doc_id")).as("n_bench_docs"))
      .select(col("doc_id"), col("n_ngrams"), col("n_collisions"), col("n_bench_docs"),
        (col("n_collisions") > 0).as("is_contaminated"))
  }

  // ─── d18 Bloom-filter decontamination (broadcast sketch) ─────────────
  /** d13's verbatim-overlap screen re-expressed as the shape a 100 TB
    * pipeline runs first: the benchmark's 13-grams compress into a
    * Bloom filter — the distinct SET POSITIONS of m = 2^20 bits under
    * k = 4 Kirsch–Mitzenmacher probes over the two md5 halves (d03's
    * hash family, so any engine replays it) — and the corpus probes it
    * with a broadcast semi-join. What the sketch buys over d13's exact
    * join: the probe side is BOUNDED (≤ m positions, a few MB, however
    * large the benchmark suite grows — a real deployment precomputes it
    * once and probes map-side), and the probe is a broadcast join, so
    * corpus grams cross the wire only for their one distinct exchange —
    * the per-doc-distinct semantic d13 and d18 share, not join cost.
    * One-sided error is the contract: a flagged gram may be a false
    * positive (≈(1−e^{−kn/m})^k), a clean verdict is exact — so the
    * flag set is provably a SUPERSET of d13's exact collisions
    * (DedupSpec pins it) and the sketch drops into the funnel as a
    * cheap pre-filter: docs it clears skip the exact join entirely,
    * and only flagged survivors pay d13.
    */
  def bloomContamination(spark: SparkSession, dir: String): DataFrame = {
    val mBits = 1L << 20
    val kProbes = 4
    val grams = contaminationGrams(spark, dir, Seq("src0", "src1"), 13)
    val h1 = conv(substring(col("h"), 1, 15), 16, 10).cast("long")
    val h2 = conv(substring(col("h"), 17, 14), 16, 10).cast("long")
    def probes = explode(transform(sequence(lit(0), lit(kProbes - 1)),
      i => pmod(h1 + i * h2, lit(mBits)))).as("pos")
    val filterBits = grams.filter(col("is_bench")).select(probes).distinct()
    val corpus = grams.filter(!col("is_bench")).select(col("doc_id"), col("h"))
    // the totals branch and the hits branch each derive the gram frame
    // (pushdown specializes the two subtrees, so no runtime stage
    // reuse) — kept deliberately: the hits path's aggregation sees only
    // probe HITS (tiny on a clean corpus), and the one-pass alternative
    // (left-join a hit marker, aggregate every (doc, gram) once)
    // measured 1.7× SLOWER at sf0.1 (1.2s → 1.9s warm) because its
    // partial aggregate chews the full 4×-exploded probe frame; the
    // shuffle count is two gram-sized exchanges either way, so the
    // second narrow gram pass is the cheaper half of the trade at any
    // scale where the filter actually filters.
    val flagged = corpus.select(col("doc_id"), col("h"), probes)
      .join(broadcast(filterBits), Seq("pos"), "left_semi")
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === kProbes)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_flagged"))
    corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_ngrams"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        (coalesce(col("n_flagged"), lit(0L)) > 0).as("is_flagged"))
  }

  // ─── d14 curation funnel ─────────────────────────────────────────────
  /** The report a curation run ends with: per source, how many docs and
    * tokens survive each stage — exact dedup (keep-first per content
    * hash), transitive near-dup removal (d12's components, applied to
    * exact-dedup survivors so stages don't double-count), and 13-gram
    * benchmark decontamination (d13) — down to the clean doc/token
    * counts that actually enter training. The funnel is how a curation
    * budget is argued: every stage's cost is visible in one row.
    *
    * Scale: the exact-dedup stage is a groupBy(fingerprint) + join back
    * on the fingerprint (one exchange each side — no per-hash window);
    * the near-dup assignment and contaminated keep-list are small
    * relative to the corpus and joined declaratively (AQE broadcasts
    * them when they fit); the rollup is integer sums per source.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long").as("tk"),
      md5(col("text")).as("fp"))
    val keeps = d.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    val assign = dupClusterAssignment(spark, dir)
    val contaminated = ngramContamination(spark, dir)
      .filter(col("is_contaminated")).select(col("doc_id"), lit(true).as("cont"))
    val flags = d.join(keeps, Seq("fp"))
      .join(assign, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("exact_removed", col("doc_id") =!= col("keep_id"))
      .withColumn("neardup_removed",
        col("cluster_id").isNotNull && col("doc_id") =!= col("cluster_id") &&
          col("doc_id") === col("keep_id"))
      .withColumn("survivor", !col("exact_removed") && !col("neardup_removed"))
    flags.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("tk")).as("tokens"),
      sum(when(col("exact_removed"), 1L).otherwise(0L)).as("n_exact_removed"),
      sum(when(col("neardup_removed"), 1L).otherwise(0L)).as("n_neardup_removed"),
      sum(when(col("survivor") && col("cont").isNotNull, 1L).otherwise(0L))
        .as("n_contaminated_survivors"),
      sum(when(col("survivor") && col("cont").isNull, 1L).otherwise(0L)).as("n_clean"),
      sum(when(col("survivor") && col("cont").isNull, col("tk")).otherwise(0L))
        .as("tokens_clean"))
  }

  // ─── d15 quality-aware dedup survivorship ────────────────────────────
  /** Which doc of each near-dup cluster actually enters training:
    * production dedup keeps the HIGHEST-QUALITY member (the cleanest
    * crawl of a page, the least-truncated copy), not the minimum id —
    * keep-min (d07) is the deterministic baseline, this is the
    * quality-aware refinement layered on the same cluster structure.
    * One row per clustered doc: its cluster, quality score, cluster
    * size, the surviving doc, and the keep flag (argmax quality, doc id
    * breaking ties).
    *
    * Scale: fifth consumer of the verified-pair artifact — the cluster
    * assignment (pair-graph-sized, tiny) broadcasts against the t02
    * scoring projection of the corpus; the pick windows partition by
    * cluster_id (high cardinality, group size = cluster size) and stack
    * on one exchange. Determinism: quality_score is the t02 expression
    * both engines compute bit-identically (established by t02/t07), and
    * the order key (score desc, doc_id) is a total order.
    */
  def qualityDedup(spark: SparkSession, dir: String): DataFrame = {
    val assign = dupClusterAssignment(spark, dir)
    val members = TextAnalysis.scoredDocs(spark, dir)
      .select(col("doc_id"), col("quality_score"))
      .join(broadcast(assign), Seq("doc_id"))
    val byCluster = Window.partitionBy(col("cluster_id"))
    val pick = byCluster.orderBy(col("quality_score").desc, col("doc_id"))
    members
      .withColumn("pick_rank", row_number().over(pick))
      .withColumn("cluster_size", count(lit(1)).over(byCluster))
      .withColumn("survivor_doc_id", first(col("doc_id")).over(pick))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality_score"), col("survivor_doc_id"),
        (col("pick_rank") === 1).as("is_survivor"))
  }

  // ─── d16 containment (near-subset) dedup ─────────────────────────────
  /** The dedup family's SUBSET detector: pairs where ≥ 80% of the
    * smaller doc's shingles appear in the larger doc (quoted inclusions,
    * boilerplate-wrapped copies, truncated re-crawls). Jaccard-based
    * methods (d02/d03/d07) structurally miss these — a small doc inside
    * a much larger one has tiny Jaccard no matter how completely it is
    * contained — and MinHash bands are tuned for symmetric similarity.
    *
    * Candidate generation is PREFIX FILTERING, and the prune is
    * LOSSLESS: order each doc's shingles by a global portable key
    * (md5), keep the first ⌊n/5⌋+1 as the prefix; if containment ≥ 0.8
    * then fewer than n/5 of the smaller doc's shingles are missing from
    * the larger, so at least one PREFIX shingle must appear in it — a
    * pair with no (prefix-of-smaller, anywhere-in-larger) shingle match
    * provably sits below the threshold. Candidates are then verified
    * exactly on the candidate-doc slice, with containment = |A∩B|/|A|,
    * by a regime CHOSEN FROM A BOUNDED CENSUS of that slice (identical
    * outputs — distinct-shingle counting, set-array intersection, and
    * the hot/cold split are the same arithmetic):
    *  - COUNTING co-shingle join (generated rows ≈ Σ_s occ(s)²) — wins
    *    on sparse shingle document-frequency, where the d07 set-array
    *    shape replicates each doc's full set across its ~10² pairs
    *    (the round-9 sf10 byte-amplification, 129 s);
    *  - PER-PAIR ARRAYS (shipped shingle copies ≈ Σ_pairs n_a + n_b) —
    *    wins on boilerplate-heavy, hot-shingle corpora where a single
    *    shingle shared by D docs makes occ² = D² explode while the
    *    position-pruned pair count stays bounded. Since round 12 its
    *    exchanges are CENSUS-SIZED ([[arrayVerifyPartitions]]): the
    *    round-11 "memory cliff" was per-task array volume under a
    *    pinned partition count, not semantic quadratic work, so the
    *    operator now derives the join width from the measured pair
    *    volume — the partitions-∝-data knob turned from inside the
    *    plan. (Two alternatives were BUILT and MEASURED on the way:
    *    a hot/cold threshold hybrid — cold counting still aggregated
    *    every non-candidate co-pair, 455 s at sf3 — and a fully
    *    pair-restricted semi-join verify — df-independent but
    *    row-count-explosive on pair-dense corpora, 107 s vs arrays'
    *    23-30 s at sf1 and a >60 GB spill at sf3; it survives
    *    force-only as [[PairRestricted]], the differential yardstick.)
    * The census (Σ occ, Σ occ², |pairs|, |docs|) is TWO bounded driver
    * actions over already-needed frames (pair census + gram census);
    * the cost proxies share one unit (shingle-row instances
    * materialized), so the switch is a direct comparison — automated
    * in round 11 (the round-10 verdict's watch item: the trade
    * inverts silently), de-cliffed in round 12.
    *
    * Scale: the prefix join's left side is ~1/5 of the shingle rows;
    * the right side is the full distinct-shingle frame — an equi-join
    * on the shingle, never all-pairs. Ranks come from ONE per-doc
    * `sort_array(collect_list)` + posexplode instead of a row_number
    * window: the window needs a partition-wide (doc_id, h) sort of the
    * full shingle frame per join side (benched ~2× slower at sf0.1),
    * while sort_array orders each doc's ~1e2 shingles inside its row
    * and both join sides read the SAME exploded subtree (exchange
    * reuse). The verification slice filters documents BELOW the
    * explode; `subset_only` marks pairs invisible to the jaccard
    * pipeline (containment ≥ 0.8 but J < 0.5).
    */
  /** Verify-regime tags for [[containmentDedupOf]]. The census chooses
    * between [[CountingJoin]] and [[PairArrays]] (the latter now with
    * CENSUS-SIZED exchanges — see [[arrayVerifyPartitions]], the
    * round-12 de-cliffing); [[PairRestricted]] is FORCE-ONLY, kept as
    * the differential-spec yardstick and the measured record of why it
    * lost: it ships Σ_pairs n_a bare (pair, gh) rows — df-independent
    * and cliff-free, but on a PAIR-DENSE corpus (the wrapped fixture
    * censuses 232 pairs/doc at sf1) that is 1.5·10⁹ shuffled rows
    * where arrays ship the same information as 2·|pairs| fat rows:
    * measured 107 s vs arrays' 23-30 s at sf1, and a >60 GB sort
    * spill (disk exhaustion) at sf3. Row-count beats payload size
    * only when pairs-per-doc is small.
    */
  private[graft] sealed trait VerifyRegime
  private[graft] case object CountingJoin extends VerifyRegime
  private[graft] case object PairArrays extends VerifyRegime
  private[graft] case object PairRestricted extends VerifyRegime
  /** The array verify in `slices` sequential sub-jobs (round-13 verdict
    * item 3): chosen when the census-estimated array-shuffle volume
    * exceeds the local scratch budget — the documented sf10 death was
    * DISK, not memory (the pair-array exchange's total shuffle files
    * outgrew scratch), and no partitioning knob shrinks a TOTAL. Each
    * slice materializes its scored pairs and releases its shuffle
    * files before the next starts, bounding in-flight scratch at
    * ~volume/slices. On the 1000-executor target this gate never
    * fires (230 MB/executor at the recorded sf10 volume); it is the
    * single-box degradation path.
    */
  private[graft] case class SlicedArrays(slices: Int) extends VerifyRegime

  /** Local shuffle-scratch budget the verify may occupy at once.
    * Deliberately below this container's 53 GB free scratch (head-room
    * for the session's other live shuffles); production overrides via
    * `spark.graft.scratch.budget.bytes`.
    */
  private[graft] val DefaultScratchBudgetBytes: Long = 32L * 1024 * 1024 * 1024

  /** Uncompressed-estimate → on-disk conversion for the scratch gate:
    * shuffle and spill files are LZ4-compressed
    * (`spark.shuffle.compress` / `spark.shuffle.spill.compress`
    * defaults), and the verify's pair-array payload — sorted runs of
    * 8-byte shingle keys repeated across co-candidate docs — compresses
    * well. Measured on the first sf10 sliced run (round 13): the gate's
    * raw copies×16 B estimate read ~1.1 TB while in-flight scratch
    * growth per slice tracked ~8× below it (disk never rose more than
    * ~20 GB with cleanup lag included), and the 105+ slices that the
    * uncalibrated gate produced each paid a full job's fixed overhead.
    * Factor 8 keeps the estimate CONSERVATIVE (real ratios measured
    * closer to 10×) — overestimating volume only costs extra slices,
    * never scratch death.
    */
  private[graft] val ShuffleCompressionFactor = 8.0

  /** The census gate, split out pure so the decision itself is
    * spec-pinned: counting-join generated rows (Σ occ²) vs array-path
    * shipped shingle copies (|pairs| · 2 · avg set size) — same unit,
    * direct comparison, ties to counting (the measured-default regime).
    * When the array path wins but its estimated shuffle volume
    * (copies × ~16 B) exceeds `scratchBudgetBytes`, the choice degrades
    * to [[SlicedArrays]] sized so each slice stays under HALF the
    * budget (the other half is head-room for the slice's own sort
    * spill and the not-yet-cleaned previous slice).
    */
  private[graft] def chooseVerifyRegime(sumOcc2: Long, nPairs: Long,
      sumOcc: Long, nDocs: Long,
      scratchBudgetBytes: Long = DefaultScratchBudgetBytes): VerifyRegime = {
    val arrayCopies = 2.0 * nPairs.toDouble *
      (sumOcc.toDouble / math.max(nDocs, 1L).toDouble)
    if (sumOcc2.toDouble <= arrayCopies) CountingJoin
    else {
      // on-disk estimate: copies × 16 B, divided by the measured LZ4
      // ratio (the budget is a DISK number; arrayVerifyPartitions keeps
      // the uncompressed estimate because task memory sees raw arrays)
      val diskBytes = arrayCopies * 16.0 / ShuffleCompressionFactor
      if (diskBytes <= scratchBudgetBytes.toDouble) PairArrays
      else {
        // clamp the sub-job count (round-13 advice): a tiny configured
        // budget or a huge census estimate would otherwise schedule
        // thousands of sequential slices, each paying full fixed
        // overhead (Int.MaxValue in the extreme). Past the clamp each
        // slice simply exceeds half the budget — log loudly so the
        // operator's degradation is visible, never silent.
        val raw = math.max(2,
          math.ceil(diskBytes / (scratchBudgetBytes.toDouble / 2.0))
            .min(Int.MaxValue.toDouble).toInt)
        val s = math.min(MaxSlices, raw)
        if (raw > MaxSlices)
          System.err.println(s"[graft] containment verify: slice count $raw " +
            s"clamped to $MaxSlices — each slice will exceed half the " +
            s"scratch budget ($scratchBudgetBytes B); raise " +
            "spark.graft.scratch.budget.bytes or expect spill")
        SlicedArrays(s)
      }
    }
  }

  /** Upper bound on sequential verify slices — past a few hundred the
    * per-slice fixed overhead dominates any spill it avoids.
    */
  private[graft] val MaxSlices = 512

  /** Census-derived exchange width for the array verify — the round-11
    * "memory cliff" dissected: the per-pair set-array join was never
    * semantically quadratic, but under a PINNED shuffle-partition count
    * its sort-merge tasks each buffer (pair volume)/(partitions) bytes
    * of arrays, and at sf3 that crossed task memory (220-285 s of
    * spill; OOM at 8 GB). AQE coalesces small partitions but never
    * SPLITS uniform oversized ones, so the operator sizes the exchange
    * itself from numbers the census already holds: shipped volume ≈
    * 2·|pairs|·avgSet elements × ~16 B (8 B key + row/array overhead),
    * at the AQE advisory 64 MB per task, clamped to [current shuffle
    * partitions, 32768]. This is the knob a 1000-executor cluster
    * turns (partitions ∝ data); deterministic — both engines see the
    * same census, and partitioning never changes values.
    */
  private[graft] def arrayVerifyPartitions(base: Int, nPairs: Long,
      sumOcc: Long, nDocs: Long): Int = {
    val avgSet = sumOcc.toDouble / math.max(nDocs, 1L).toDouble
    val volBytes = 2.0 * nPairs.toDouble * avgSet * 16.0
    math.min(32768, math.max(base,
      math.ceil(volBytes / (64.0 * 1024 * 1024)).toInt))
  }

  /** Salt fan-out for hot-key candidate joins. Parallelism-driven
    * (round-13 verdict item 5 — a fixed 32 sized the fan-out to THIS
    * box's cores): defaults to `defaultParallelism` (the cluster's
    * total core count — the number of tasks a hot key's work can
    * actually spread across) floored at 32 so the local mode keeps its
    * measured shape, overridable via `spark.graft.hot.salts` for
    * deliberate re-profiles (the sf10 straggler-tail study). Bounded
    * above at 4096: the replication cost is prefix-side rows × salts,
    * and past the hot task's own frontier more fan-out only adds
    * shuffle volume.
    */
  private[graft] def hotSalts(spark: org.apache.spark.sql.SparkSession): Int =
    math.min(4096, math.max(32,
      confLong(spark, "spark.graft.hot.salts",
        spark.sparkContext.defaultParallelism.toLong).toInt))

  /** Long config with a loud parse failure: a malformed setting names
    * the offending key and raw value instead of surfacing as a bare
    * NumberFormatException from deep inside query construction
    * (round-13 advice).
    */
  private[graft] def confLong(spark: org.apache.spark.sql.SparkSession,
      key: String, default: Long): Long =
    spark.conf.getOption(key).map { raw =>
      try raw.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"config $key must be a long, got: '$raw'")
      }
    }.getOrElse(default)

  /** Test-only instrumentation: the regime the last [[containmentDedup]]
    * census chose (the spec pins the gate fires on the right corpora).
    */
  private[graft] val lastContainmentRegime =
    new java.util.concurrent.atomic.AtomicReference[VerifyRegime](null)

  /** Test-only instrumentation: how many hot keys the last candidate
    * join salted (0 = the plain join ran).
    */
  private[graft] val lastContainmentHotKeys =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Test/probe instrumentation: the last census readings
    * (nPairs, nDocs, Σocc, Σocc²) behind the regime choice.
    */
  private[graft] val lastContainmentCensus =
    new java.util.concurrent.atomic.AtomicReference[(Long, Long, Long, Long)](null)

  def containmentDedup(spark: SparkSession, dir: String): DataFrame =
    containmentDedupOf(wordShingles(spark, dir), force = None)

  /** d35: the SLICED verify regime under the driver's oracle (round
    * 14) — same containment semantics and oracle SQL as d16, forced
    * through [[SlicedArrays]] at a fixed 3 slices so the
    * scratch-degradation path (per-slice pair hashing, eager
    * localCheckpoint materialization, checkpoint union) produces its
    * VALUES under the
    * DuckDB gate every round, at every sf the driver runs, not only in
    * DedupSpec's forced-budget hash-compare. A fixed slice count (not
    * a tiny conf budget) keeps the row's cost flat across scale
    * factors: 3 sub-jobs always, instead of a slice count that grows
    * with the census estimate.
    */
  def slicedDedup(spark: SparkSession, dir: String): DataFrame =
    containmentDedupOf(wordShingles(spark, dir), force = Some(SlicedArrays(3)))

  /** Documents-frame entry (spec seam: generated corpora, forced or
    * census-chosen regime).
    */
  private[graft] def containmentDedupOfDocs(docs: DataFrame,
      force: Option[VerifyRegime] = None): DataFrame =
    containmentDedupOf(wordShinglesOf(docs), force)

  // ─── d33/d34 hot-shingle regime coverage (oracle-side) ───────────────
  /** The boilerplate header for the derived hot-shingle corpus: a
    * 20-token sequence repeated 3× (60 tokens), giving exactly 20
    * distinct ULTRA-HOT shingles (one per cyclic phase) with
    * occurrence = |docs| each. The tokens were found by an offline
    * greedy md5 search so EVERY cyclic window shingle hashes ≥ 'c'
    * (top quartile of the hash order): none of them can reach a doc's
    * lowest-fifth prefix, so candidate generation sees no hot-shingle
    * pairs — the counting join's Σocc² census term goes quadratic
    * (20·|docs|², measured 5.2M vs the array proxy's 2.0M at the
    * fixture) while the true pair set stays the fixture's own, which
    * is exactly the regime that forces the census-sized array verify
    * (per-pair arrays, exchanges widened per [[arrayVerifyPartitions]]
    * since round 12). (A
    * weaker bar measured wrong: at ≥ '5' the LOWEST hot shingle sat
    * near the prefix quantile and leaked ~60k spurious twin-twin
    * candidates, flipping the census back to counting.)
    */
  private[graft] val BoilerHeader: Seq[String] = Seq(
    "hb59x0", "hb59x1", "hb59x2", "hb59x3", "hb59x6", "hb59x11",
    "hb59x13", "hb59x15", "hb59x23", "hb59x36", "hb59x37", "hb59x38",
    "hb59x46", "hb59x50", "hb59x57", "hb59x67", "hb59x73", "hb59x76",
    "hb59x77", "hb59x82")
  private val BoilerReps = 3
  private[graft] val BoilerIdOffset = 1000000L

  /** The boilerplate-wrapped twin corpus, derived IN-QUERY from the
    * documents table (the oracle fixture is driver-owned, so the
    * hot-shingle regime is synthesized deterministically where both
    * engines can replay it): every doc appears once as itself and once
    * with the shared 60-token header ([[BoilerHeader]] × [[BoilerReps]])
    * prepended under doc_id + [[BoilerIdOffset]]. Every original is a
    * true containment pair of its wrapped twin (its shingle set is a
    * subset), and the header contributes 20 ultra-hot shingles with
    * occ = |docs| each — the regime d16's normal fixture never crosses.
    */
  private[graft] def boilerplateWrapped(docs: DataFrame): DataFrame = {
    val hdr = Seq.fill(BoilerReps)(BoilerHeader).flatten.mkString(" ") + " "
    val base = docs.select(col("doc_id"), col("source"), col("text"))
    base.unionByName(base.select(
      (col("doc_id") + lit(BoilerIdOffset)).as("doc_id"), col("source"),
      concat(lit(hdr), col("text")).as("text")))
  }
  /** The same derivation as DuckDB SQL (a subquery usable as a docs
    * source in the shared CTE builders).
    */
  private def boilerplateWrappedSql: String = {
    val hdr = Seq.fill(BoilerReps)(BoilerHeader).flatten.mkString(" ") + " "
    s"""(SELECT doc_id, source, text FROM documents
       | UNION ALL
       | SELECT doc_id + $BoilerIdOffset, source, '$hdr' || text
       | FROM documents)""".stripMargin
  }

  /** d33: containment dedup over the boilerplate-wrapped corpus — the
    * ORACLE-CHECKED hot-shingle row (round-10 verdict item 8: the
    * sf0.01 fixture's sparse shingle DF exercises only the counting
    * verify; this derived corpus forces the census to the array branch,
    * so BOTH census-chosen d16 regimes are driver-oracle-covered).
    * Semantics are exactly d16's on the derived corpus; every original
    * doc must surface as contained in its wrapped twin.
    */
  def hotShingleDedup(spark: SparkSession, dir: String): DataFrame =
    containmentDedupOfDocs(boilerplateWrapped(Tables.documents(spark, dir)))
    // NOT derived from the base shingles (round-14 A/B): the wrapped
    // twin's window set decomposes exactly as base-shingles ∪ 58 fixed
    // header windows ∪ 2 boundary windows, and a union-derive form
    // (one text explosion instead of two) was built, oracle-PASSed at
    // two SFs, and REJECTED on measurement — 6.2 → 9.7-10.1 s
    // solo-warm at sf0.1: the twins' half needs its own distinct
    // exchange (windows can collide across the three parts), the
    // union frame's stats inflate the census gate, and the fused
    // explode+distinct codegen it replaces was cheaper than both.

  /** d34: substring (span) dedup over the boilerplate-wrapped corpus —
    * d28's hot-gram regime, oracle-checked: the periodic header
    * contributes 20 distinct 8-gram hashes at corpus-wide occurrence
    * ~2.7·|docs| each (the hot census keys + fat dupg broadcast rows),
    * and every wrapped doc carries a guaranteed 60-token
    * header-spanning duplicated island.
    */
  def boilerplateSpans(spark: SparkSession, dir: String): DataFrame =
    substringDedupOf(boilerplateWrapped(Tables.documents(spark, dir)))

  /** CACHE CONTRACT: the returned plan references persisted candidate/
    * slice frames the caller must release after its one consuming
    * action (releaseQueryCaches/clearCache — see [[substringDedupOf]]).
    */
  private[graft] def containmentDedupOf(sh0: DataFrame,
      force: Option[VerifyRegime]): DataFrame = {
    val t = 0.8
    // 60-bit md5-prefix shingle KEYS (the d28 wordGrams discipline): the
    // shingle frame is this family's dominant shuffle — the candidate
    // equi-join, the counting self-join, and the array collects all key
    // on it — and an 8-byte BIGINT beats a ~34-byte shingle string (or
    // the old 32-char md5 hex sort column) 4-5× on every one of those
    // exchanges. Measured on the round-11 wrapped-corpus probe: the
    // array-regime verify's pair⋈sets sort-merge shipped ~40 B/element
    // set arrays and went memory-bound at sf1 (149 s warm, local 8 GB
    // heap); long-keyed arrays put it back under the envelope. Both
    // engines derive the identical prefix, so the rare truncation
    // collision (~2·10⁻¹⁸ per in-doc pair) is deterministic and
    // IDENTICAL — the oracle replays it, exactly like d28's gram keys.
    // (A within-doc collision would also make the counting and array
    // regimes differ by one multiset count — the same 2⁻⁶⁰ event class;
    // documented, not guarded.) Numeric order on the 60-bit prefix =
    // lexicographic order on the full md5 except at prefix ties, where
    // the tied keys are EQUAL — rank assignment among equal keys cannot
    // change any downstream value.
    // NOT persisted (round-14 A/B): caching this corpus-sized frame to
    // spare the ~2 explosion re-runs read d16 3.3-3.5 → 3.6-4.3 s and
    // left d33/d35 inside noise at sf0.1 — the cache write+read of
    // |shingle-occurrence| rows costs what the fused re-derivations
    // cost, and a corpus-sized cache is exactly the round-9 page-cache
    // cliff. (Deriving shCand from `ranked` instead — riding the
    // reused groupBy exchange — was also measured and REJECTED: d16
    // 3.5 → 4.7, d33 4.8 → 5.9 s; the collect_list/posexplode
    // recompute above the exchange costs more than the explosion it
    // saves, the same arithmetic that keeps ranked0 unpersisted below.)
    val sh = sh0.select(col("doc_id"),
      conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long").as("gh"))
    // Hot-key census gate (round 13): the census that decides whether
    // the candidate join needs salting is itself an extra action, and
    // on a SMALL corpus it costs more than any straggler it could
    // prevent (measured +2.3 s on d33's 5.72 s sf0.1 row). It runs
    // only when the planner's input-size estimate says the corpus is
    // big enough for a hot key to matter (stats off the optimized
    // plan — no action), or when spark.graft.hot.df is explicitly set
    // (the spec's forced-floor path). Value-neutral either way:
    // salting never changes the pair set, only who computes it.
    // 12 MB of estimated shingle input (planner stats per sf, recorded
    // in SCALE.md §"Round-13 continuation: the hot-key straggler,
    // salted": sf1 wrapped = 4.9 MB, sf3 = 14.4 MB,
    // sf10 = 47.6 MB) — the hot task's work grows ~n² (occurrences ×
    // prefix hits), so the census turns on from sf3 up while
    // sf0.1/sf1 keep the censusless round-12 plan (the census costs
    // more than any straggler it could prevent there — measured
    // +2.3 s on d33's 5.72 s row)
    val hotDfConf = sh0.sparkSession.conf.getOption("spark.graft.hot.df")
    val censusOn = hotDfConf.isDefined ||
      sh0.queryExecution.optimizedPlan.stats.sizeInBytes > (12L << 20)
    // PERSISTED when the census runs (it adds a third consumer of the
    // collect_list/posexplode chain); otherwise the round-12 shape —
    // two inline codegen derivations — is kept for the small-corpus
    // rows. Corpus-sized but narrow (4 longs/row); MEMORY_AND_DISK so
    // an sf10 corpus degrades to local disk instead of evicting.
    // Released by the caller's per-query clearCache, like candP.
    val ranked0 = sh
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("gh"))).as("arr"))
      .select(col("doc_id"), size(col("arr")).cast("long").as("n"),
        posexplode(col("arr")).as(Seq("pos", "gh")))
      .select(col("doc_id"), col("n"), (col("pos") + 1).cast("long").as("rk"),
        col("gh"))
    // NOT persisted below the census gate, on round-14 re-measurement:
    // forcing the cache on the small-corpus rows read d16 3.6 → 10.6 s
    // and d33 4.7 → 8.4 s solo-warm at sf0.1 — materializing the
    // collect_list/posexplode chain costs more than the two fused
    // codegen derivations it saves (the round-12 decision, re-confirmed)
    val ranked =
      if (censusOn)
        ranked0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else ranked0
    // ── prefix EXTENSION (round 15, the verdict's top item): cut
    // candidates BEFORE the verify by demanding more evidence per
    // pair. With the minimal prefix (first ⌊n/5⌋+1 shingles) a pair
    // qualifies on ONE shared low-hash shingle, and on natural text a
    // single corpus-common shingle that hashes low opens a pair with
    // EVERY doc containing it — measured at sf0.1 on the wrapped
    // corpus: 1.45M candidate pairs for ~9.5k docs, of which <1%
    // survive the verify. Extending the prefix to ⌊n/5⌋+k keeps the
    // prune LOSSLESS at a count threshold of k: a true pair misses at
    // most n−⌈0.8n⌉ = ⌊n/5⌋ of the contained doc's shingles, so at
    // least (⌊n/5⌋+k) − ⌊n/5⌋ = k of its first ⌊n/5⌋+k shingles appear
    // in the container (min(k, n−⌊n/5⌋) when the prefix covers the
    // whole doc). The knob TRADES candidate-pair count against
    // join-output volume: each extension slot adds prefix rows whose
    // join fan-out is that shingle's document frequency, so a large k
    // re-inflates the join on hot-tailed corpora while the pair
    // reduction saturates. Measured both scales (candidate pairs →
    // warm seconds):
    //   sf0.1 d33: k=1 1,449,884 / ~7.6 s · k=3 ~5.4 s · k=8 8,229
    //     pairs but 6.8-8.2 s; d16: k=1 259,415 / 4.7 s → k=3 2.2 s
    //     (floor 256 pairs from k=4);
    //   sf1  d33: k=1 23.2M / 48 s · k=2 9.4M / 30 s · k=3 7.2M /
    //     33 s · k=4 4.5M / 46 s · k=8 0.80M / 66 s — join-output
    //     growth overtakes pair savings past k≈3; d16: k=1 13.5 s →
    //     k=3 5.3 s; d35: k=1 14.5 s → k=3 6.6 s.
    // k=3 is the scale-robust optimum (the sf1 curve is the one that
    // transfers); output hashes identical at every k swept
    // (1,2,3,4,6,8,12 across both SFs). k=1 is exactly the round-12
    // single-witness shape; `spark.graft.prefix.ext` overrides for
    // re-profiles.
    val prefExt = math.max(1L, confLong(sh0.sparkSession,
      "spark.graft.prefix.ext", 3L))
    val prefix = ranked.filter(
      col("rk") <= floor(col("n") / 5).cast("long") + prefExt)
    // position filter (PPJoin-style), ALSO lossless: the pair's MINIMUM
    // shared shingle under the global md5 order has the minimal rank on
    // BOTH sides simultaneously (same order), and every other shared
    // shingle sits at ranks ≥ (ra, rb) of that match, so overlap ≤
    // 1 + min(n_a−ra, n_b−rb). Requiring that bound to reach
    // ⌈0.8·n_a⌉ = (4·n_a+4) div 5 on at least one match keeps every true
    // pair while pruning hot-shingle matches that sit deep in the larger
    // doc BEFORE the distinct shuffle (integer-exact threshold: 0.8·n in
    // float rounds UP at multiples of 5). sf0.1 medians with/without are
    // comparable (~3.3 vs ~3.1 s); kept because the join output it
    // prunes is the term that grows quadratically with hot-shingle
    // document frequency — the 100 TB risk — and the rank it needs is
    // free in the array form.
    // ── hot-key-salted candidate join (round 13) ──
    // The candidate equi-join keys on gh, and a corpus-hot shingle (a
    // boilerplate header at document frequency D) puts ALL D of its
    // full-side rows in ONE join task — a straggler NO amount of
    // parallelism splits (thread dumps of both sf10 runs showed the
    // same single map task burning ~17 min; AQE cannot split a map
    // task mid-stage, and the skew exists identically on a
    // 1000-executor cluster). Bounded census: keys at df ≥ the
    // spark.graft.hot.df floor (default 2^14; top-256 by occurrence —
    // driver-bounded by construction) take a SALTED join — the prefix
    // side replicates ×hotSalts (parallelism-driven, see [[hotSalts]]),
    // the full side salts by hash(doc_b), so each (a, b) pair appears
    // exactly once and the hot key's work spreads across that many
    // tasks (the x02 discipline, applied only where the census says
    // skew lives). Natural corpora census zero hot keys and take the
    // plain join unchanged.
    val pa = prefix
      .select(col("doc_id").as("doc_a"), col("gh"), col("n").as("na"), col("rk").as("ra"))
    val rb = ranked.select(col("doc_id").as("doc_b"), col("gh"),
      col("n").as("nb"), col("rk").as("rb"))
    val hotDf = confLong(sh0.sparkSession, "spark.graft.hot.df", 1L << 14)
    val hotKeys =
      if (!censusOn) Array.empty[Long]
      else ranked.groupBy(col("gh")).agg(count(lit(1)).as("occ"))
        .filter(col("occ") >= hotDf)
        .orderBy(col("occ").desc).limit(256)
        .collect().map(_.getLong(0))
    lastContainmentHotKeys.set(hotKeys.length)
    val joined =
      if (hotKeys.isEmpty) pa.join(rb, Seq("gh"))
      else {
        val salts = hotSalts(sh0.sparkSession)
        val cold = pa.filter(!col("gh").isin(hotKeys: _*))
          .join(rb.filter(!col("gh").isin(hotKeys: _*)), Seq("gh"))
        val hot = pa.filter(col("gh").isin(hotKeys: _*))
          .withColumn("salt", explode(lit((0 until salts).toArray)))
          .join(rb.filter(col("gh").isin(hotKeys: _*))
            .withColumn("salt", pmod(xxhash64(col("doc_b")), lit(salts.toLong)).cast("int")),
            Seq("gh", "salt"))
          .drop("salt")
        cold.unionByName(hot)
      }
    // Per-pair aggregation replaces the old per-match filter + distinct
    // (same exchange — the groupBy partial-aggregates map-side exactly
    // like distinct did, carrying three extra longs):
    //  - `mc` (matched prefix shingles) must reach min(prefExt,
    //    n_a−⌊n_a/5⌋) — the prefix-extension count bound above;
    //  - the POSITION bound now evaluates on (min ra, min rb), which by
    //    the global-order monotonicity of shared shingles is the
    //    MINIMAL shared generated match's rank pair — the one match
    //    whose bound is valid AND maximal, so the kept set is
    //    IDENTICAL to the round-12 any-match form (the old test passed
    //    iff the minimal match passed); the count bound is the only
    //    new prune, and it is lossless by the argument at `prefExt`.
    val cand = joined
      .filter(col("doc_a") =!= col("doc_b") &&
        (col("na") < col("nb") || (col("na") === col("nb") && col("doc_a") < col("doc_b"))))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("mc"),
        min(col("ra")).as("ra0"), min(col("rb")).as("rb0"))
      .filter(col("mc") >= least(lit(prefExt),
          col("na") - floor(col("na") / 5).cast("long")) &&
        lit(1) + least(col("na") - col("ra0"), col("nb") - col("rb0")) >=
          floor((lit(4) * col("na") + lit(4)) / 5).cast("long"))
      .select(col("doc_a"), col("doc_b"))
    // cand feeds the census count, candDocs, AND the final join —
    // persisted (pair-id-sized: 2 longs/row; before this the prefix-join
    // chain re-ran per consumer). Cache lifetime: the returned plan
    // still references it, so release falls to the caller's per-query
    // clearCache (the Bench/Verify harness contract, as in q63).
    val candP = cand.persist()
    // ONE bounded action reads the pair census off the persisted pair
    // frame (round-11 watch item: the gate ran |pairs| and |docs| as
    // separate jobs): explode both id columns, count rows (= 2·|pairs|)
    // and distinct docs in the same aggregate.
    // nDocs feeds ONLY the regime cost model (avgSet, exchange widths)
    // — approx_count_distinct's ±2% replaces an exact countDistinct
    // whose Expand doubled the 2·|pairs| exploded frame and paid a
    // second full aggregation pass (at sf10 that is a ~460 M-row
    // Expand for a number a cost model rounds anyway). Deterministic:
    // the HLL++ sketch is a pure function of the value set.
    val pairRow = candP
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .agg(count(lit(1)).as("two_np"),
        approx_count_distinct(col("doc_id")).as("nd"))
      .collect()(0)
    val nPairs = pairRow.getLong(0) / 2
    val nDocs = math.max(1L, pairRow.getLong(1))
    val candDocs = candP.select(col("doc_a").as("doc_id"))
      .union(candP.select(col("doc_b").as("doc_id"))).distinct()
    // The candidate shingle slice feeds the census AND the verify (the
    // census agg, per-doc sizes, and both sides of the counting
    // self-join / the array collect) — persisted, or the census action
    // re-runs the full shingle explode + semi join that the final plan
    // then runs again (measured 2× the whole query at sf0.1 AND sf10
    // when the gate first landed unpersisted). Slice-sized, not
    // corpus-sized: only candidate docs' shingles. Released by the
    // caller's per-query clearCache, like candP.
    val shCand = sh.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .persist()
    // ── the verify-regime census gate ──
    // Bounded census of the candidate slice (two 1-row actions over
    // frames the verify needs anyway): per-shingle occurrence counts
    // collapse to Σ occ (total candidate shingle rows) and Σ occ² (the
    // counting join's generated-row count, BEFORE map-side combine —
    // its true cost); |pairs| and |docs| complete the array-path proxy.
    val cRow = shCand.groupBy(col("gh")).agg(count(lit(1)).as("occ"))
      .agg(sum(col("occ")).as("tot"), sum(col("occ") * col("occ")).as("occ2"))
      .collect()(0)
    val tot = if (cRow.isNullAt(0)) 0L else cRow.getLong(0)
    val occ2 = if (cRow.isNullAt(1)) 0L else cRow.getLong(1)
    val scratchBudget = sh0.sparkSession.conf
      .getOption("spark.graft.scratch.budget.bytes").map(_.toLong)
      .getOrElse(DefaultScratchBudgetBytes)
    val regime = force.getOrElse(
      chooseVerifyRegime(occ2, nPairs, tot, nDocs, scratchBudget))
    lastContainmentRegime.set(regime)
    lastContainmentCensus.set((nPairs, nDocs, tot, occ2))
    // All three regimes compute the IDENTICAL (doc_a, doc_b, inter,
    // n_a, n_b) — shingles are distinct per doc, so counting
    // co-occurrences, intersecting set arrays, and counting semi-join
    // survivors per pair are the same arithmetic. Which one is CHEAP
    // is corpus-dependent (see the operator Scaladoc): counting
    // generates Σ occ² in-stage rows (map-side-combined to ~|pairs|
    // before the exchange) and wins on sparse shingle DF — the
    // round-9 sf10 record: the array shape's ~10⁴ shingle copies per
    // doc fell out of page cache and bent the curve superlinear
    // (129 s). On hot-shingle boilerplate (one shingle in D docs ⇒
    // occ² = D²) the census-sized array join wins; PairRestricted
    // (force-only) is the measured also-ran — see the regime tags'
    // Scaladoc for the full cost accounting.
    val scored = regime match {
      case CountingJoin =>
        val sizes = shCand.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val pairCounts = shCand.select(col("doc_id").as("doc_a"), col("gh"))
          .join(shCand.select(col("doc_id").as("doc_b"), col("gh")), Seq("gh"))
          .filter(col("doc_a") =!= col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("inter"))
        candP
          .join(pairCounts, Seq("doc_a", "doc_b"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      case PairArrays =>
        val base = shCand.sparkSession.conf
          .get("spark.sql.shuffle.partitions").toInt
        val parts = arrayVerifyPartitions(base, nPairs, tot, nDocs)
        val sets = shCand.groupBy(col("doc_id"))
          .agg(collect_set(col("gh")).as("sh_set"))
          .select(col("doc_id"), col("sh_set"),
            size(col("sh_set")).cast("long").as("n"))
        // census-sized exchanges: the pair frame enters join 1 and the
        // (pair + set_a) intermediate enters join 2 hash-partitioned at
        // `parts`, so each sort-merge task buffers ~64 MB of arrays no
        // matter the corpus — the de-cliffing (see
        // [[arrayVerifyPartitions]])
        candP.repartition(parts, col("doc_a"))
          .join(sets.select(col("doc_id").as("doc_a"), col("sh_set").as("set_a"),
            col("n").as("n_a")), Seq("doc_a"))
          .repartition(parts, col("doc_b"))
          .join(sets.select(col("doc_id").as("doc_b"), col("sh_set").as("set_b"),
            col("n").as("n_b")), Seq("doc_b"))
          .withColumn("inter",
            size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
          .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"))
      case SlicedArrays(s) =>
        // EAGER sliced materialization — the scratch-bound degradation
        // (see [[SlicedArrays]]): the pair set splits by a deterministic
        // pair hash into `s` sub-jobs, each the PairArrays plan at
        // per-slice exchange width; a finished slice's scored rows are
        // localCheckpointed and its shuffle files are released (refs
        // dropped + an explicit GC nudge so the ContextCleaner's
        // reference queue fires between slices, not at some later GC)
        // before the next slice shuffles. Values are identical to
        // PairArrays — slicing partitions the pair set, and per-pair
        // arithmetic never crosses pairs (DedupSpec hash-compares).
        val spark2 = shCand.sparkSession
        val base = spark2.conf.get("spark.sql.shuffle.partitions").toInt
        val parts = arrayVerifyPartitions(base, nPairs / s, tot, nDocs)
        val sets = shCand.groupBy(col("doc_id"))
          .agg(collect_set(col("gh")).as("sh_set"))
          .select(col("doc_id"), col("sh_set"),
            size(col("sh_set")).cast("long").as("n"))
          .persist()
        // Slice handoff is localCheckpoint, not a scratch parquet
        // (round 15, verdict item 4: the eager per-slice parquet
        // writes fought the page cache under interleaved load — d35
        // 5.2 → 3.4 s solo-warm, and the round-14 in-run inflation
        // track record was 5.4 → 6.0-6.8). The regime's contract is
        // bounding in-flight SHUFFLE scratch, and the checkpoint keeps
        // that: each slice's plan is truncated at materialization, its
        // shuffle refs drop, and the GC nudge lets the ContextCleaner
        // release the files before the next slice shuffles. Slice
        // RESULTS ride block storage (MEMORY_AND_DISK — spills, never
        // OOMs) instead of an external file; same JVM, consumed once,
        // swept by the harness's releaseQueryCaches like every cache
        // here. (This also retires the round-13 per-run scratch-path
        // machinery — no external path, no two-process clobber
        // surface at all.)
        val slices = (0 until s).map { i =>
          val ck = candP
            .filter(pmod(xxhash64(col("doc_a"), col("doc_b")), lit(s.toLong)) === i)
            .repartition(parts, col("doc_a"))
            .join(sets.select(col("doc_id").as("doc_a"),
              col("sh_set").as("set_a"), col("n").as("n_a")), Seq("doc_a"))
            .repartition(parts, col("doc_b"))
            .join(sets.select(col("doc_id").as("doc_b"),
              col("sh_set").as("set_b"), col("n").as("n_b")), Seq("doc_b"))
            .withColumn("inter",
              size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
            .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"))
            .localCheckpoint()
          System.gc()
          ck
        }
        sets.unpersist()
        slices.reduce(_.unionByName(_))
      case PairRestricted =>
        // Start EVERY gram from the candidate pair set: pair ⋈
        // grams-of-doc_a replicates each pair by its contained doc's
        // shingle count (Σ_pairs n_a bare (pair, gh) rows — the array
        // regime's shipped volume as STREAMED LONGS, no row ever
        // carrying a whole set), then a semi join on (doc_b, gh) keeps
        // the grams present in BOTH docs; the count per pair is the
        // exact intersection. Cost is df-INDEPENDENT — a corpus-hot
        // gram contributes one row per candidate pair that contains
        // it, never occ² — and the aggregation state is exactly
        // |candidate pairs|, so neither the counting join's quadratic
        // generation nor the array regime's per-pair set
        // materialization can recur. (A hot/cold split — hot grams
        // pair-restricted, cold through the counting join — was built
        // and measured first: the cold half still aggregated every
        // co-occurring NON-candidate doc pair in the slice, which on
        // the wrapped corpus is the whole corpus's co-pair census —
        // 455 s at sf3, 2× the array cliff. Full pair-restriction
        // removes that term instead of thresholding it.)
        val sizes = shCand.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val inter = candP
          .join(shCand.select(col("doc_id").as("doc_a"), col("gh")), Seq("doc_a"))
          .join(shCand.select(col("doc_id").as("doc_b"), col("gh")),
            Seq("doc_b", "gh"), "left_semi")
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("inter"))
        candP
          .join(inter, Seq("doc_a", "doc_b"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"))
    }
    scored
      .withColumn("containment", col("inter").cast("double") / col("n_a").cast("double"))
      .filter(col("containment") >= t)
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .select(
        col("doc_a").as("contained_doc"), col("doc_b").as("container_doc"),
        col("n_a").as("n_sh_contained"), col("n_b").as("n_sh_container"),
        col("inter"), col("containment"), col("jaccard"),
        (col("jaccard") < 0.5).as("subset_only"))
  }

  // ─── d28/d29 substring-level (span) dedup ────────────────────────────
  /** Word-gram width for the substring family. 8 words ≈ the smallest
    * span that is vanishingly unlikely to repeat by chance in natural
    * text while still catching template/boilerplate fragments — the
    * word-level analog of the 50-token threshold in the
    * train-data-dedup literature (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): every repeated
    * span of ≥ w tokens is EXACTLY the union of its repeated w-grams,
    * so maximal repeated spans fall out of merging overlapping
    * duplicated w-gram intervals — no suffix array needed, and every
    * stage is a hash aggregation or a per-doc window.
    */
  private val SpanGramW = 8

  /** (doc_id, pos, gh): 60-bit md5-prefix hash of the w-token gram
    * starting at 1-based token position `pos`. One row per position —
    * POSITIONS, not a set: substring dedup is about occurrences, so
    * intra-doc repeats count (a doc that repeats its own 8-gram is
    * self-duplicated). The key is a BIGINT, not the 32-char hex
    * string: the gram frame is the family's dominant shuffle and the
    * count≥2 tail is its broadcast candidate, so an 8-byte key beats
    * a 32-byte string 4× on both (measured: the sf3 scale point's
    * AQE-chosen broadcast build of the string tail was a serial ~2 s
    * term that made sf3 read SLOWER than sf10). Both engines derive
    * the identical 60-bit prefix, so the rare truncation collision
    * (~2·10⁻⁴ at 22M grams) is deterministic and IDENTICAL — the
    * oracle replays it, exactly like the d03 signature hashes.
    */
  private def wordGrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("t"))
      .filter(size(col("t")) >= SpanGramW)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - (SpanGramW - 1))).as("i"))
      .select(col("doc_id"), col("i").cast("long").as("pos"),
        conv(substring(md5(concat_ws(" ",
          (0 until SpanGramW).map(k => element_at(col("t"), col("i") + k)): _*)), 1, 15), 16, 10)
          .cast("long").as("gh"))

  /** Merge duplicated-gram start positions into maximal disjoint token
    * spans [span_start, span_end] per doc — gaps-and-islands over the
    * per-doc position order: a new island starts where the gram span
    * no longer overlaps-or-abuts the running coverage maximum. Window
    * is PARTITIONED BY doc_id (bounded by doc length), never global.
    */
  private def mergeSpans(dupPos: DataFrame): DataFrame = {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    dupPos
      .select(col("doc_id"), col("pos").as("s"), (col("pos") + (SpanGramW - 1)).as("e"))
      .withColumn("prev_max",
        max(col("e")).over(byPos.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island",
        sum(when(col("prev_max").isNull || col("s") > col("prev_max") + 1, 1L)
          .otherwise(0L)).over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
  }

  /** d28: per-doc census of repeated substrings ACROSS the corpus —
    * the span-level capability the document-level family (d01-d27)
    * cannot see: a doc that is 30% boilerplate shared with thousands
    * of other docs passes every whole-doc and Jaccard gate, yet that
    * 30% is exactly what a training run memorizes. A gram is
    * "duplicated" when its total occurrence count corpus-wide is ≥ 2
    * (intra-doc repetition included, matching t06's repetition lens).
    *
    * Scale: the only corpus-wide shuffles are the gram-count hash
    * aggregation (map-side partial combine on md5 keys — uniformly
    * distributed, no skew) and the grams⋈duplicated-grams equi-join
    * whose build side is pre-filtered to count ≥ 2 (the rare tail);
    * span merging is a per-doc window bounded by doc length. Nothing
    * is pairwise in the corpus — this is the same blocked discipline
    * as d03, one level below doc granularity.
    */
  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    substringDedupOf(Tables.documents(spark, dir))

  /** CACHE CONTRACT (r14 advice): the returned plan references a
    * persisted gram frame whose lifetime the RETURNED FRAME owns — the
    * caller must release it after its one consuming action, via
    * `GraftSession.releaseQueryCaches` (what Bench/Verify do per query)
    * or `spark.catalog.clearCache()`. A caller composing several of
    * these operators without releasing between them accumulates cache
    * entries. Same contract on [[substringScrubOf]] and
    * [[containmentDedupOf]].
    */
  private[graft] def substringDedupOf(docs: DataFrame): DataFrame = {
    // The gram frame feeds BOTH the duplicate census (groupBy gh) and
    // the probe side of the join-back — unpersisted, the tokenize +
    // per-position 8-gram md5 (this family's dominant CPU) ran twice
    // per query (round-14 measurement: d28 2.9 → 1.5-2.0 s, d34 4.9 →
    // 2.3-2.6 s solo-warm at sf0.1 with the persist). Narrow (3 longs/row)
    // but position-count-sized; MEMORY_AND_DISK so a big corpus
    // degrades to local disk instead of evicting. Released by the
    // caller's per-query clearCache (the candP contract).
    val g = wordGrams(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupGh = g.groupBy(col("gh")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("gh"))
    val spans = mergeSpans(g.join(dupGh, Seq("gh")).select(col("doc_id"), col("pos")))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("span_end") - col("span_start") + 1).as("dup_tokens"))
    val totals = docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long").as("total_tokens"))
    perDoc.join(totals, Seq("doc_id"))
      .select(col("doc_id"), col("total_tokens"), col("n_dup_spans"), col("dup_tokens"),
        // raw double division — identical IEEE op both engines
        (col("dup_tokens").cast("double") / col("total_tokens").cast("double"))
          .as("dup_frac"))
  }

  /** d29: the scrub d28 censuses — rewrite each affected doc with its
    * duplicated spans REMOVED, keeping exactly one occurrence of every
    * duplicated gram corpus-wide (the globally first by (doc_id, pos),
    * a deterministic total order both engines share). An occurrence is
    * removed iff it is not its gram's first; removed occurrences merge
    * into disjoint spans (same islands machinery as d28) and the doc
    * is rebuilt from its uncovered tokens, single-space joined.
    * Output is the DELTA — only docs that lost at least one token —
    * with before/after counts; a fully-duplicated doc survives as an
    * empty string (its grams' first occurrences live elsewhere).
    *
    * Scale: first-occurrence = min(struct(doc_id, pos)) — an ordinary
    * hash aggregation with partial combine; covered positions explode
    * from merged spans (bounded by doc length, spans disjoint so no
    * distinct needed); the rebuild groups only AFFECTED docs, with the
    * token explode computed on the affected slice (semi-join pushed
    * below the explode — the wordShinglesOf argument, Dedup.scala:95).
    */
  def substringScrub(spark: SparkSession, dir: String): DataFrame =
    substringScrubOf(Tables.documents(spark, dir))

  /** CACHE CONTRACT: see [[substringDedupOf]] — release via
    * releaseQueryCaches/clearCache after the consuming action.
    */
  private[graft] def substringScrubOf(docs: DataFrame): DataFrame = {
    // same two-consumer shape as substringDedupOf (census + join-back
    // probe) — persist for the same measured reason
    val g = wordGrams(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firsts = g.groupBy(col("gh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"), count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("gh"), col("first.doc_id").as("f_doc"), col("first.pos").as("f_pos"))
    val removed = g.join(firsts, Seq("gh"))
      .filter(!(col("doc_id") === col("f_doc") && col("pos") === col("f_pos")))
      .select(col("doc_id"), col("pos"))
    val spans = mergeSpans(removed)
    // merged islands are disjoint per doc → no distinct after explode
    val covered = spans.select(col("doc_id"),
      explode(sequence(col("span_start"), col("span_end"))).as("idx"))
    val affected = spans.select(col("doc_id")).distinct()
    val toks = docs.join(affected, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("t"))
    val kept = toks
      .select(col("doc_id"), posexplode(col("t")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("idx"), col("col").as("tok"))
      .join(covered, Seq("doc_id", "idx"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens_after"),
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("tok")))),
          x => x.getField("tok")), " ").as("scrubbed_text"))
    toks.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens_before"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens_before"),
        coalesce(col("n_tokens_after"), lit(0L)).as("n_tokens_after"),
        (col("n_tokens_before") - coalesce(col("n_tokens_after"), lit(0L)))
          .as("n_removed_tokens"),
        coalesce(col("scrubbed_text"), lit("")).as("scrubbed_text"))
  }

  /** d30: SPAN-level decontamination census — for every training doc
    * (non-benchmark source), the maximal token spans whose 8-grams
    * also appear in a benchmark doc (src0/src1, the d08/d13/d18
    * convention). d13 answers "HOW MANY 13-grams collide" per doc;
    * d30 answers "WHERE" — merged spans with positions, which is what
    * a scrub-not-drop remediation needs (cutting the leaked span
    * keeps the doc; d13's doc-level flag can only discard it). Uses
    * the d28 gram geometry (w=8) so span semantics match the dedup
    * family's.
    *
    * Scale: the bench gram set is suite-sized (distinct 32-hex keys);
    * the train→bench restriction is one left-semi equi-join on the
    * hash (broadcastable in real deployments, left declarative so AQE
    * picks); span merge is the per-doc bounded window. Same blocked
    * discipline as d28 — never pairwise.
    */
  def spanContamination(spark: SparkSession, dir: String): DataFrame =
    spanContaminationOf(Tables.documents(spark, dir))

  private[graft] def spanContaminationOf(docs: DataFrame): DataFrame = {
    val isBench = col("source").isin("src0", "src1")
    val benchGh = wordGrams(docs.filter(isBench)).select(col("gh")).distinct()
    val trainPos = wordGrams(docs.filter(!isBench))
      .join(benchGh, Seq("gh"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val spans = mergeSpans(trainPos)
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contam_spans"),
        sum(col("span_end") - col("span_start") + 1).as("contam_tokens"))
    val totals = docs.filter(!isBench).select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long").as("total_tokens"))
    perDoc.join(totals, Seq("doc_id"))
      .select(col("doc_id"), col("total_tokens"), col("n_contam_spans"), col("contam_tokens"),
        (col("contam_tokens").cast("double") / col("total_tokens").cast("double"))
          .as("contam_frac"))
  }

  // ─── d31 corpus snapshot diff ────────────────────────────────────────

  /** d31: content-level delta between two corpus snapshots — the data-
    * versioning primitive a continuously-recrawled training corpus
    * needs ("what changed between crawl N and N+1, and how much of the
    * standing index must be rebuilt"). Two deterministic snapshots are
    * derived from the documents table (reference fixture discipline —
    * the same-table derivation q30's reconciliation uses):
    * OLD = doc_id % 7 ≠ 0 with the text as-is; NEW = doc_id % 5 ≠ 1
    * with docs at doc_id % 11 == 3 carrying a revision suffix. The
    * diff classifies every doc_id seen in either snapshot as
    * added / removed / changed / unchanged by comparing md5 content
    * fingerprints, the hash d01's exact dedup keys on — so "changed"
    * here means exactly "would re-enter the dedup index".
    *
    * Scale: each side is projected to (doc_id, source, fingerprint)
    * BEFORE the join — 40 bytes/row through the shuffle instead of the
    * document text — and the diff is ONE full-outer equi-join on
    * doc_id, hash-partitioned on both sides; classification is a
    * null/equality map over the joined row. No windows, no pairwise
    * work; at 100 TB this is two scans + one co-partitioned join, and
    * with both snapshots bucketed by doc_id at write time (the
    * [[graft.sources.Sinks]] bucketed-write path) the shuffle
    * disappears entirely.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame =
    snapshotDiffOf(Tables.documents(spark, dir))

  private[graft] def snapshotDiffOf(docs: DataFrame): DataFrame = {
    val old = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("source").as("o_source"),
        md5(col("text")).as("o_fp"))
    val nw = docs.filter(col("doc_id") % 5 =!= 1)
      .select(col("doc_id"), col("source").as("n_source"),
        md5(when(col("doc_id") % 11 === 3, concat(col("text"), lit(" rev")))
          .otherwise(col("text"))).as("n_fp"))
    old.join(nw, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("n_source"), col("o_source")).as("source"),
        when(col("o_fp").isNull, lit("added"))
          .when(col("n_fp").isNull, lit("removed"))
          .when(col("o_fp") === col("n_fp"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  private def snapshotDiffSql: String =
    """WITH old AS (
      |  SELECT doc_id, source AS o_source, md5(text) AS o_fp
      |  FROM documents WHERE doc_id % 7 <> 0),
      |nw AS (
      |  SELECT doc_id, source AS n_source,
      |         md5(CASE WHEN doc_id % 11 = 3 THEN text || ' rev' ELSE text END) AS n_fp
      |  FROM documents WHERE doc_id % 5 <> 1)
      |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |       COALESCE(n.n_source, o.o_source) AS source,
      |       CASE WHEN o.o_fp IS NULL THEN 'added'
      |            WHEN n.n_fp IS NULL THEN 'removed'
      |            WHEN o.o_fp = n.n_fp THEN 'unchanged'
      |            ELSE 'changed' END AS status
      |FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id""".stripMargin

  // ─── d32 snapshot distribution drift ─────────────────────────────────

  /** d32: distribution drift between the same two snapshots d31 diffs —
    * the data-drift ALARM next to d31's data-versioning LEDGER. d31
    * answers "which documents changed"; d32 answers the monitoring
    * question "did the corpus's SHAPE move": per source, doc-count
    * share and mean document length in both snapshots, the per-source
    * share delta, and the total-variation distance between the two
    * source mixtures (the standard drift statistic — ½·Σ|p−q|,
    * 0 = identical mixture, 1000‰ = disjoint). A retrain trigger
    * watches tv_permille; a mixture regression (one source's crawler
    * silently dying) shows up here crawls before it shows up in model
    * quality.
    *
    * Scale: each snapshot side is ONE map-side-combining groupBy(source)
    * over a scan-side filter — the corpus never shuffles (per-source
    * partial rows only); the per-source frame (bounded by the source
    * dimension) takes two broadcast 1-row crossJoins for the totals and
    * the TV statistic (the q39 bounded-frame rule). All shares/deltas
    * are integer permille; no floats anywhere.
    */
  def snapshotDrift(spark: SparkSession, dir: String): DataFrame =
    snapshotDriftOf(Tables.documents(spark, dir))

  private[graft] def snapshotDriftOf(docs: DataFrame): DataFrame = {
    val tokC = size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long")
    val old = docs.filter(col("doc_id") % 7 =!= 0)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("o_docs"), sum(tokC).as("o_tokens"))
    val nw = docs.filter(col("doc_id") % 5 =!= 1)
      .select(col("source"),
        (tokC + when(col("doc_id") % 11 === 3, 1L).otherwise(0L)).as("t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
    val per = old.join(nw, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("o_docs"), lit(0L)).as("o_docs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("o_tokens"), lit(0L)).as("o_tokens"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    val tot = per.agg(sum(col("o_docs")).as("o_total"), sum(col("n_docs")).as("n_total"))
    val shares = per.crossJoin(broadcast(tot))
      .withColumn("o_share_permille", expr("(1000 * o_docs) div o_total"))
      .withColumn("n_share_permille", expr("(1000 * n_docs) div n_total"))
      .withColumn("share_delta_permille",
        abs(col("o_share_permille") - col("n_share_permille")))
      .withColumn("o_mean_tokens_fp",
        when(col("o_docs") === 0, lit(0L)).otherwise(expr("(1000 * o_tokens) div o_docs")))
      .withColumn("n_mean_tokens_fp",
        when(col("n_docs") === 0, lit(0L)).otherwise(expr("(1000 * n_tokens) div n_docs")))
      .withColumn("mean_tokens_delta_fp",
        abs(col("o_mean_tokens_fp") - col("n_mean_tokens_fp")))
      .drop("o_total", "n_total")
    val tv = shares.agg(expr("sum(share_delta_permille) div 2").as("tv_permille"))
    shares.crossJoin(broadcast(tv))
  }

  private def snapshotDriftSql: String =
    """WITH old AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS o_docs,
      |         CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS o_tokens
      |  FROM documents WHERE doc_id % 7 <> 0 GROUP BY 1),
      |nw AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(len(regexp_extract_all(text, '\S+'))
      |               + CASE WHEN doc_id % 11 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tokens
      |  FROM documents WHERE doc_id % 5 <> 1 GROUP BY 1),
      |per AS (
      |  SELECT COALESCE(o.source, n.source) AS source,
      |         COALESCE(o.o_docs, 0) AS o_docs, COALESCE(n.n_docs, 0) AS n_docs,
      |         COALESCE(o.o_tokens, 0) AS o_tokens, COALESCE(n.n_tokens, 0) AS n_tokens
      |  FROM old o FULL OUTER JOIN nw n ON o.source = n.source),
      |tot AS (SELECT CAST(sum(o_docs) AS BIGINT) AS o_total,
      |               CAST(sum(n_docs) AS BIGINT) AS n_total FROM per),
      |shares AS (
      |  SELECT per.source, o_docs, n_docs, o_tokens, n_tokens,
      |         (1000 * o_docs) // o_total AS o_share_permille,
      |         (1000 * n_docs) // n_total AS n_share_permille,
      |         abs((1000 * o_docs) // o_total - (1000 * n_docs) // n_total)
      |           AS share_delta_permille,
      |         CASE WHEN o_docs = 0 THEN 0
      |              ELSE (1000 * o_tokens) // o_docs END AS o_mean_tokens_fp,
      |         CASE WHEN n_docs = 0 THEN 0
      |              ELSE (1000 * n_tokens) // n_docs END AS n_mean_tokens_fp
      |  FROM per, tot),
      |tv AS (SELECT CAST(sum(share_delta_permille) AS BIGINT) // 2 AS tv_permille
      |       FROM shares)
      |SELECT s.*,
      |       abs(o_mean_tokens_fp - n_mean_tokens_fp) AS mean_tokens_delta_fp,
      |       t.tv_permille
      |FROM shares s, tv t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d32_snapshot_drift" -> snapshotDrift,
    "d31_snapshot_diff" -> snapshotDiff,
    "d28_substring_dedup" -> substringDedup,
    "d29_substring_scrub" -> substringScrub,
    "d30_span_contamination" -> spanContamination,
    "d01_exact_dedup" -> exactDedup,
    "d02_ngram_jaccard" -> ngramJaccard,
    "d03_minhash_lsh" -> minhashLsh,
    "d24_lsh_calibration" -> lshCalibration,
    "d26_band_retune" -> bandRetune,
    "d27_retuned_calibration" -> retunedCalibration,
    "d25_training_corpus" -> trainingCorpus,
    "d04_simhash" -> simhash,
    "d17_simhash_pairs" -> simhashPairs,
    "d20_simhash_dedup" -> simhashDedup,
    "d21_route_union" -> dedupRouteUnion,
    "d07_dedup_pipeline" -> dedupPipeline,
    "d19_shard_dedup" -> shardDedup,
    "d08_contamination" -> contamination,
    "d09_source_overlap" -> sourceOverlap,
    "d10_effective_mixture" -> effectiveMixture,
    "d12_dup_clusters" -> dupClusters,
    "d13_ngram_contamination" -> ngramContamination,
    "d18_bloom_contamination" -> bloomContamination,
    "d14_curation_funnel" -> curationFunnel,
    "d15_quality_dedup" -> qualityDedup,
    "d16_containment_dedup" -> containmentDedup,
    "d35_sliced_dedup" -> slicedDedup,
    "d33_hot_shingle_dedup" -> hotShingleDedup,
    "d34_boilerplate_spans" -> boilerplateSpans)

  /** Oracle twin of [[condPow]] — the same fixed-length left-associated
    * conditional product, so the data-dependent exponent stays
    * bit-identical between engines (SQL `*` is left-associative).
    */
  private def condPowSql(base: String, n: String, maxN: Int): String =
    (1 to maxN).map(k => s"(CASE WHEN $k <= $n THEN $base ELSE 1.0 END)")
      .mkString("1.0 * ", " * ", "")

  /** Shared d26/d27 oracle mid-section: the (bands, rows) grid scored
    * against `agg`'s mixture through the ranked selection (`rnk = 1` on
    * a passing row = the chosen banding). ONE definition so the two
    * oracles can never replay different gate arithmetic — d27's A/B is
    * meaningful only if it derives the identical choice d26 publishes.
    */
  private def selectionCte: String =
    s"""grid AS (
      |  SELECT CAST(b AS BIGINT) AS n_bands, CAST(r AS BIGINT) AS n_rows
      |  FROM (SELECT unnest(range(1, 19)) AS b), (SELECT unnest(range(1, 9)) AS r)
      |  WHERE b * r <= 18),
      |cr AS (
      |  SELECT n_bands, n_rows, j_bucket, n_true_pairs,
      |         (CAST(j_bucket AS DOUBLE) + 0.5) / 10.0 AS j_mid
      |  FROM grid, agg),
      |p1 AS (SELECT *, ${condPowSql("j_mid", "n_rows", 8)} AS p FROM cr),
      |p2 AS (SELECT *, ${condPowSql("(1.0 - p)", "n_bands", 18)} AS miss FROM p1),
      |t AS (
      |  SELECT n_bands, n_rows, j_bucket, n_true_pairs,
      |         CAST(floor((1.0 - miss) * 1000000000.0) AS BIGINT) AS recall_ppb
      |  FROM p2),
      |selraw AS (
      |  SELECT n_bands, n_rows,
      |         CAST(sum(CASE WHEN j_bucket >= 5 THEN n_true_pairs * recall_ppb ELSE 0 END) AS BIGINT) AS num_t,
      |         CAST(sum(CASE WHEN j_bucket >= 5 THEN n_true_pairs ELSE 0 END) AS BIGINT) AS den_t,
      |         CAST(sum(CASE WHEN j_bucket < 5 THEN n_true_pairs * recall_ppb ELSE 0 END) AS BIGINT) AS num_l,
      |         CAST(sum(CASE WHEN j_bucket < 5 THEN n_true_pairs ELSE 0 END) AS BIGINT) AS den_l
      |  FROM t GROUP BY 1, 2),
      |sel AS (
      |  SELECT g.n_bands, g.n_rows,
      |         CAST(COALESCE(s.num_t, 0) AS BIGINT) AS num_t,
      |         CAST(COALESCE(s.den_t, 0) AS BIGINT) AS den_t,
      |         CAST(COALESCE(s.num_l, 0) AS BIGINT) AS num_l,
      |         CAST(COALESCE(s.den_l, 0) AS BIGINT) AS den_l
      |  FROM grid g LEFT JOIN selraw s USING (n_bands, n_rows)),
      |th AS (
      |  SELECT *, ${condPowSql("CAST(0.75 AS DOUBLE)", "n_rows", 8)} AS p75,
      |            ${condPowSql("CAST(0.3 AS DOUBLE)", "n_rows", 8)} AS p30
      |  FROM sel),
      |th2 AS (
      |  SELECT *,
      |         CAST(floor((1.0 - ${condPowSql("(1.0 - p75)", "n_bands", 18)}) * 1000000000.0) AS BIGINT) AS rec75_ppb,
      |         CAST(floor((1.0 - ${condPowSql("(1.0 - p30)", "n_bands", 18)}) * 1000000000.0) AS BIGINT) AS catch30_ppb
      |  FROM th),
      |fl AS (
      |  SELECT *,
      |         (den_t > 0 AND num_t * 10 >= den_t * 9000000000
      |          AND (den_l = 0 OR num_l * 4 <= den_l * 1000000000)
      |          AND rec75_ppb >= 950000000 AND catch30_ppb <= 200000000) AS passes
      |  FROM th2),
      |rk AS (
      |  SELECT *, row_number() OVER
      |           (ORDER BY passes DESC, n_bands * n_rows, n_bands, n_rows) AS rnk
      |  FROM fl)""".stripMargin

  /** Shared d24/d26 oracle prefix: exact-Jaccard pairs, the 6×3 LSH
    * candidate replay, and the per-decile mixture `agg`.
    */
  private val calibrationMixCte: String =
    s"""WITH toksA AS (
      |  SELECT doc_id, lang, regexp_extract_all(text, '\\S+') AS t FROM documents),
      |posA AS (
      |  SELECT doc_id, lang, t, unnest(range(1, len(t) - 1)) AS i FROM toksA WHERE len(t) >= 3),
      |shA AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, lang,
      |         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
      |  FROM posA),
      |samp AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id,
      |           min(CAST(('0x' || substr(md5('cal_' || shingle), 1, 15)) AS BIGINT)) AS cal_h
      |    FROM shA GROUP BY 1)
      |  ORDER BY cal_h, doc_id LIMIT $CalibDocBudget),
      |sh AS (SELECT s.doc_id, s.lang, s.shingle FROM shA s JOIN samp USING (doc_id)),
      |shg AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(lang || chr(31) || shingle), 1, 15)) AS BIGINT) AS gh
      |  FROM sh),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shg GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM shg a JOIN shg b ON a.gh = b.gh
      |       AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |exact AS (
      |  SELECT doc_a, doc_b,
      |         CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
      |  FROM pairs
      |  JOIN sizes sa ON doc_a = sa.doc_id
      |  JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.2),
      |ks AS (SELECT unnest(range(0, 18)) AS k),
      |hs AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
      |         CAST(('0x' || substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
      |  FROM (SELECT DISTINCT doc_id, shingle FROM sh)),
      |sig AS (
      |  SELECT doc_id, CAST(k AS INT) AS k, min(h1 + k * h2) AS sig
      |  FROM hs CROSS JOIN ks GROUP BY 1, 2),
      |bands AS (
      |  SELECT doc_id, k // 3 AS band_j,
      |         md5(concat_ws('', CAST(min(CASE WHEN k % 3 = 0 THEN sig END) AS VARCHAR),
      |                           CAST(min(CASE WHEN k % 3 = 1 THEN sig END) AS VARCHAR),
      |                           CAST(min(CASE WHEN k % 3 = 2 THEN sig END) AS VARCHAR))) AS band_hash
      |  FROM sig GROUP BY 1, 2),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS nb
      |  FROM bands a JOIN bands b ON a.band_j = b.band_j AND a.band_hash = b.band_hash
      |       AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |cal AS (
      |  SELECT least(9, CAST(floor(e.jaccard * 10) AS BIGINT)) AS j_bucket, c.nb
      |  FROM exact e LEFT JOIN cand c USING (doc_a, doc_b)),
      |agg AS (
      |  SELECT j_bucket, CAST(count(*) AS BIGINT) AS n_true_pairs,
      |         CAST(sum(CASE WHEN nb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
      |         CAST(sum(coalesce(nb, 0)) AS BIGINT) AS sum_bands
      |  FROM cal GROUP BY 1)""".stripMargin

  /** Oracle twin of [[wordGrams]] — w-token gram md5 per 1-based start
    * position. Width is spliced from [[SpanGramW]] so the two engines
    * can never disagree on the gram geometry.
    */
  private def gramCteSql: String = gramCteSqlFrom("documents")
  private def gramCteSqlFrom(docsSrc: String): String = {
    val cat = (0 until SpanGramW)
      .map(k => if (k == 0) "t[CAST(i AS INT)]" else s"t[CAST(i AS INT) + $k]")
      .mkString(" || ' ' || ")
    s"""WITH tok AS (SELECT doc_id, source IN ('src0', 'src1') AS is_bench,
       |               regexp_extract_all(text, '\\S+') AS t FROM $docsSrc),
       |pos AS (SELECT doc_id, is_bench, t, CAST(unnest(range(1, len(t) - ${SpanGramW - 2})) AS BIGINT) AS i
       |        FROM tok WHERE len(t) >= $SpanGramW),
       |g AS (SELECT doc_id, is_bench, i AS pos,
       |        CAST(('0x' || substr(md5($cat), 1, 15)) AS BIGINT) AS gh FROM pos)""".stripMargin
  }

  /** Oracle twin of [[mergeSpans]] — identical gaps-and-islands over
    * `src`(doc_id, pos), producing spans(doc_id, island, ss, se).
    */
  private def spansCteSql(src: String): String =
    s"""m AS (SELECT doc_id, pos AS s, pos + ${SpanGramW - 1} AS e,
       |        max(pos + ${SpanGramW - 1}) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |      FROM $src),
       |isl AS (SELECT *, sum(CASE WHEN prev_max IS NULL OR s > prev_max + 1 THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS island
       |        FROM m),
       |spans AS (SELECT doc_id, island, min(s) AS ss, max(e) AS se FROM isl GROUP BY 1, 2)""".stripMargin

  /** d16/d33 oracle twin, parameterized over the docs source so the
    * SAME chain is driver-checked on both shingle-DF regimes (the raw
    * fixture's sparse counting regime and the wrapped corpus's
    * hot-shingle array regime).
    */
  private def containmentOracleSql(docsSrc: String): String =
    s"""WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM $docsSrc),
      |pos AS (
      |  SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
      |sh0 AS (
      |  SELECT DISTINCT doc_id,
      |         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
      |  FROM pos),
      |sh AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS gh
      |  FROM sh0),
      |ranked AS (
      |  SELECT doc_id, gh,
      |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY gh) AS BIGINT) AS rk,
      |         CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n
      |  FROM sh),
      |pref AS (SELECT * FROM ranked WHERE rk <= n // 5 + 1),
      |cand AS (
      |  SELECT DISTINCT p.doc_id AS doc_a, r.doc_id AS doc_b
      |  FROM pref p JOIN ranked r USING (gh)
      |  WHERE p.doc_id <> r.doc_id
      |    AND (p.n < r.n OR (p.n = r.n AND p.doc_id < r.doc_id))
      |    AND 1 + least(p.n - p.rk, r.n - r.rk) >= (4 * p.n + 4) // 5),
      |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
      |  FROM cand c
      |  JOIN sh a ON c.doc_a = a.doc_id
      |  JOIN sh b ON c.doc_b = b.doc_id AND a.gh = b.gh
      |  GROUP BY 1, 2)
      |SELECT c.doc_a AS contained_doc, c.doc_b AS container_doc,
      |       sa.n AS n_sh_contained, sb.n AS n_sh_container,
      |       i.inter,
      |       CAST(i.inter AS DOUBLE) / sa.n AS containment,
      |       CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) AS jaccard,
      |       CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) < 0.5 AS subset_only
      |FROM cand c
      |JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
      |JOIN sizes sa ON c.doc_a = sa.doc_id
      |JOIN sizes sb ON c.doc_b = sb.doc_id
      |WHERE CAST(i.inter AS DOUBLE) / sa.n >= 0.8""".stripMargin

  /** d28/d34 oracle twin, parameterized the same way (d34 runs the
    * identical span census over the wrapped hot-gram corpus).
    */
  private def spanCensusOracleSql(docsSrc: String): String =
    (gramCteSqlFrom(docsSrc) + ",\n" +
      """dupg AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
        |dup AS (SELECT g.doc_id, g.pos FROM g JOIN dupg USING (gh)),
        |""".stripMargin + spansCteSql("dup") + ",\n" +
      """per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
        |              CAST(sum(se - ss + 1) AS BIGINT) AS dup_tokens
        |            FROM spans GROUP BY 1)
        |SELECT p.doc_id, CAST(len(tok.t) AS BIGINT) AS total_tokens,
        |       n_dup_spans, dup_tokens,
        |       CAST(dup_tokens AS DOUBLE) / CAST(len(tok.t) AS DOUBLE) AS dup_frac
        |FROM per_doc p JOIN tok USING (doc_id)""".stripMargin)

  val oracle: Map[String, String] = Map(
    "d31_snapshot_diff" -> snapshotDiffSql,
    "d32_snapshot_drift" -> snapshotDriftSql,
    "d28_substring_dedup" -> spanCensusOracleSql("documents"),
    "d29_substring_scrub" ->
      (gramCteSql + ",\n" +
        """firsts AS (
          |  SELECT gh, doc_id AS f_doc, pos AS f_pos
          |  FROM (SELECT gh, doc_id, pos,
          |          row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn,
          |          count(*) OVER (PARTITION BY gh) AS c
          |        FROM g)
          |  WHERE rn = 1 AND c >= 2),
          |removed AS (
          |  SELECT g.doc_id, g.pos FROM g JOIN firsts USING (gh)
          |  WHERE NOT (g.doc_id = f_doc AND g.pos = f_pos)),
          |""".stripMargin + spansCteSql("removed") + ",\n" +
        """covered AS (SELECT doc_id, CAST(unnest(range(ss, se + 1)) AS BIGINT) AS idx FROM spans),
          |affected AS (SELECT DISTINCT doc_id FROM spans),
          |atoks AS (SELECT tok.doc_id, tok.t FROM tok JOIN affected ON tok.doc_id = affected.doc_id),
          |ptoks AS (SELECT doc_id, t, CAST(unnest(range(1, len(t) + 1)) AS BIGINT) AS idx FROM atoks),
          |kept AS (
          |  SELECT p.doc_id, p.idx, p.t[CAST(p.idx AS INT)] AS tok_s
          |  FROM ptoks p LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.idx = c.idx
          |  WHERE c.doc_id IS NULL),
          |rebuilt AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_after,
          |         string_agg(tok_s, ' ' ORDER BY idx) AS scrubbed_text
          |  FROM kept GROUP BY 1)
          |SELECT a.doc_id, CAST(len(a.t) AS BIGINT) AS n_tokens_before,
          |       COALESCE(n_tokens_after, 0) AS n_tokens_after,
          |       CAST(len(a.t) AS BIGINT) - COALESCE(n_tokens_after, 0) AS n_removed_tokens,
          |       COALESCE(scrubbed_text, '') AS scrubbed_text
          |FROM atoks a LEFT JOIN rebuilt ON a.doc_id = rebuilt.doc_id""".stripMargin),
    "d30_span_contamination" ->
      (gramCteSql + ",\n" +
        """bg AS (SELECT DISTINCT gh FROM g WHERE is_bench),
          |dup AS (SELECT g.doc_id, g.pos FROM g JOIN bg USING (gh) WHERE NOT g.is_bench),
          |""".stripMargin + spansCteSql("dup") + ",\n" +
        """per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contam_spans,
          |              CAST(sum(se - ss + 1) AS BIGINT) AS contam_tokens
          |            FROM spans GROUP BY 1)
          |SELECT p.doc_id, CAST(len(tok.t) AS BIGINT) AS total_tokens,
          |       n_contam_spans, contam_tokens,
          |       CAST(contam_tokens AS DOUBLE) / CAST(len(tok.t) AS DOUBLE) AS contam_frac
          |FROM per_doc p JOIN tok USING (doc_id) WHERE NOT tok.is_bench""".stripMargin),
    "d25_training_corpus" ->
      (simhash64OracleCte +
      """,
        |lf AS (
        |  SELECT doc_id, b.band, b.val
        |  FROM sh, LATERAL (VALUES (0, band0), (1, band1), (2, band2), (3, band3)) b(band, val)),
        |scand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM lf a JOIN lf b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |srem AS (
        |  SELECT c.doc_b AS removed_doc_id
        |  FROM scand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id
        |  WHERE bit_count(xor(x.band0, y.band0)) + bit_count(xor(x.band1, y.band1))
        |      + bit_count(xor(x.band2, y.band2)) + bit_count(xor(x.band3, y.band3)) <= 3
        |  GROUP BY 1),
        |jt AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |jp AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM jt WHERE len(t) >= 3),
        |jsh AS (
        |  SELECT DISTINCT doc_id,
        |         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
        |  FROM jp),
        |ks AS (SELECT unnest(range(0, 18)) AS k),
        |hs AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
        |  FROM jsh),
        |sig AS (
        |  SELECT doc_id, CAST(k AS INT) AS k, min(h1 + k * h2) AS sig
        |  FROM hs CROSS JOIN ks GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, k // 3 AS band_j,
        |         md5(concat_ws('', CAST(min(CASE WHEN k % 3 = 0 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 1 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 2 THEN sig END) AS VARCHAR))) AS band_hash
        |  FROM sig GROUP BY 1, 2),
        |jcand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band_j = b.band_j AND a.band_hash = b.band_hash
        |       AND a.doc_id < b.doc_id),
        |jcd AS (SELECT doc_a AS doc_id FROM jcand UNION SELECT doc_b FROM jcand),
        |jcs AS (SELECT jsh.* FROM jsh JOIN jcd USING (doc_id)),
        |jsz AS (SELECT doc_id, count(*) AS n FROM jcs GROUP BY 1),
        |jin AS (
        |  SELECT jcand.doc_a, jcand.doc_b, count(*) AS inter
        |  FROM jcand
        |  JOIN jcs a ON jcand.doc_a = a.doc_id
        |  JOIN jcs b ON jcand.doc_b = b.doc_id AND a.shingle = b.shingle
        |  GROUP BY 1, 2),
        |jrem AS (
        |  SELECT jcand.doc_b AS removed_doc_id
        |  FROM jcand
        |  LEFT JOIN jin ON jcand.doc_a = jin.doc_a AND jcand.doc_b = jin.doc_b
        |  JOIN jsz sa ON jcand.doc_a = sa.doc_id
        |  JOIN jsz sb ON jcand.doc_b = sb.doc_id
        |  WHERE CAST(coalesce(jin.inter, 0) AS DOUBLE)
        |          / CAST(sa.n + sb.n - coalesce(jin.inter, 0) AS DOUBLE) >= 0.5
        |  GROUP BY 1),
        |rem AS (SELECT removed_doc_id AS doc_id FROM jrem
        |        UNION SELECT removed_doc_id FROM srem),
        |dw AS (
        |  SELECT doc_id, source IN ('src0','src1') AS is_bench,
        |         regexp_extract_all(text, '\S+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, is_bench,
        |         md5(array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 12], ' ')) AS h
        |  FROM (SELECT doc_id, is_bench, t, unnest(range(1, len(t) - 11)) AS i
        |        FROM dw WHERE len(t) >= 13)),
        |gbench AS (SELECT DISTINCT h FROM grams WHERE is_bench),
        |cont AS (
        |  SELECT DISTINCT g.doc_id
        |  FROM grams g JOIN gbench USING (h)
        |  WHERE NOT g.is_bench),
        |fp AS (
        |  SELECT doc_id, lang, source,
        |         md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS fingerprint,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |  WHERE source NOT IN ('src0', 'src1')),
        |fb AS (
        |  SELECT *, CAST(('0x' || substr(fingerprint, 1, 4)) AS BIGINT) % 1000 AS bucket
        |  FROM fp)
        |SELECT fb.doc_id, fb.source, fb.lang, fb.n_tokens,
        |       CASE WHEN bucket < 980 THEN 'train'
        |            WHEN bucket < 990 THEN 'validation'
        |            ELSE 'test' END AS split
        |FROM fb
        |LEFT JOIN rem ON fb.doc_id = rem.doc_id
        |LEFT JOIN cont ON fb.doc_id = cont.doc_id
        |WHERE rem.doc_id IS NULL AND cont.doc_id IS NULL""".stripMargin),
    "d24_lsh_calibration" ->
      (calibrationMixCte +
      """,
        |m1 AS (SELECT *, (CAST(j_bucket AS DOUBLE) + 0.5) / 10.0 AS j_mid FROM agg),
        |m2 AS (SELECT *, j_mid * j_mid * j_mid AS p3 FROM m1),
        |m3 AS (SELECT *, (1.0 - p3) * (1.0 - p3) * (1.0 - p3) AS q3 FROM m2)
        |SELECT j_bucket, j_mid, n_true_pairs, n_caught,
        |       CAST(n_caught AS DOUBLE) / n_true_pairs AS lsh_recall,
        |       CASE WHEN n_caught > 0
        |            THEN CAST(sum_bands AS DOUBLE) / n_caught END AS avg_bands_caught,
        |       6.0 * p3 AS expected_bands,
        |       1.0 - q3 * q3 AS theoretical_recall
        |FROM m3""".stripMargin),
    "d26_band_retune" ->
      (calibrationMixCte + ",\n" + selectionCte +
      """
        |SELECT n_bands, n_rows, n_bands * n_rows AS n_hashes,
        |       den_t AS n_target_pairs,
        |       CASE WHEN den_t > 0
        |            THEN CAST(num_t AS DOUBLE) / (CAST(den_t AS DOUBLE) * 1000000000.0) END AS target_recall,
        |       CASE WHEN den_l > 0
        |            THEN CAST(num_l AS DOUBLE) / (CAST(den_l AS DOUBLE) * 1000000000.0) END AS low_j_catch,
        |       CAST(rec75_ppb AS DOUBLE) / 1000000000.0 AS design_recall_75,
        |       CAST(catch30_ppb AS DOUBLE) / 1000000000.0 AS design_catch_30,
        |       passes, (passes AND rnk = 1) AS is_chosen
        |FROM rk""".stripMargin),
    "d27_retuned_calibration" ->
      (calibrationMixCte + ",\n" + selectionCte +
      """,
        |ch AS (
        |  SELECT n_bands, n_rows FROM rk WHERE passes AND rnk = 1
        |  UNION ALL
        |  SELECT CAST(6 AS BIGINT), CAST(3 AS BIGINT)
        |  WHERE NOT EXISTS (SELECT 1 FROM rk WHERE passes)),
        |cb AS (
        |  SELECT s.doc_id, s.k // CAST(ch.n_rows AS INT) AS band_j,
        |         md5(string_agg(CAST(s.sig AS VARCHAR), '' ORDER BY s.k)) AS band_hash
        |  FROM sig s CROSS JOIN ch
        |  WHERE s.k < ch.n_bands * ch.n_rows
        |  GROUP BY 1, 2),
        |ccand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM cb a JOIN cb b ON a.band_j = b.band_j AND a.band_hash = b.band_hash
        |       AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |calc AS (
        |  SELECT least(9, CAST(floor(e.jaccard * 10) AS BIGINT)) AS j_bucket,
        |         (d.doc_a IS NOT NULL) AS hit_d,
        |         (c.doc_a IS NOT NULL) AS hit_c
        |  FROM exact e
        |  LEFT JOIN cand d USING (doc_a, doc_b)
        |  LEFT JOIN ccand c USING (doc_a, doc_b))
        |SELECT x.j_bucket, ch.n_bands, ch.n_rows, x.n_true_pairs,
        |       x.caught_default, x.caught_chosen,
        |       CAST(x.caught_default AS DOUBLE) / x.n_true_pairs AS recall_default,
        |       CAST(x.caught_chosen AS DOUBLE) / x.n_true_pairs AS recall_chosen
        |FROM (SELECT j_bucket, CAST(count(*) AS BIGINT) AS n_true_pairs,
        |             CAST(sum(CASE WHEN hit_d THEN 1 ELSE 0 END) AS BIGINT) AS caught_default,
        |             CAST(sum(CASE WHEN hit_c THEN 1 ELSE 0 END) AS BIGINT) AS caught_chosen
        |      FROM calc GROUP BY 1) x CROSS JOIN ch""".stripMargin),
    "d16_containment_dedup" -> containmentOracleSql("documents"),
    // d35 is d16 through the forced sliced verify: slicing partitions
    // the pair set, per-pair arithmetic never crosses pairs, so the
    // oracle is IDENTICAL — which is the point (values under the gate)
    "d35_sliced_dedup" -> containmentOracleSql("documents"),
    "d33_hot_shingle_dedup" -> containmentOracleSql(boilerplateWrappedSql),
    "d34_boilerplate_spans" -> spanCensusOracleSql(boilerplateWrappedSql),
    "d15_quality_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
        |  FROM pos),
        |ks AS (SELECT unnest(range(0, 18)) AS k),
        |hs AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, CAST(k AS INT) AS k, min(h1 + k * h2) AS sig
        |  FROM hs CROSS JOIN ks GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, k // 3 AS band_j,
        |         md5(concat_ws('', CAST(min(CASE WHEN k % 3 = 0 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 1 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 2 THEN sig END) AS VARCHAR))) AS band_hash
        |  FROM sig GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band_j = b.band_j AND a.band_hash = b.band_hash
        |       AND a.doc_id < b.doc_id),
        |cdocs AS (SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand),
        |csh AS (SELECT sh.* FROM sh JOIN cdocs USING (doc_id)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
        |inter AS (
        |  SELECT cand.doc_a, cand.doc_b, count(*) AS inter
        |  FROM cand
        |  JOIN csh a ON cand.doc_a = a.doc_id
        |  JOIN csh b ON cand.doc_b = b.doc_id AND a.shingle = b.shingle
        |  GROUP BY 1, 2),
        |verified AS (
        |  SELECT cand.doc_a, cand.doc_b
        |  FROM cand
        |  LEFT JOIN inter ON cand.doc_a = inter.doc_a AND cand.doc_b = inter.doc_b
        |  JOIN sizes sa ON cand.doc_a = sa.doc_id
        |  JOIN sizes sb ON cand.doc_b = sb.doc_id
        |  WHERE CAST(coalesce(inter.inter, 0) AS DOUBLE)
        |          / CAST(sa.n + sb.n - coalesce(inter.inter, 0) AS DOUBLE) >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
        |          UNION ALL SELECT doc_b, doc_a FROM verified),
        |assign AS (
        |  SELECT src AS doc_id, min(dst) AS cluster_id FROM (
        |    WITH RECURSIVE reach(src, dst) AS (
        |      SELECT DISTINCT a, a FROM edges
        |      UNION
        |      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
        |    SELECT src, dst FROM reach)
        |  GROUP BY 1),
        |qd AS (
        |  SELECT doc_id,
        |         CAST(length(text) AS BIGINT) AS n_chars,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS punct_count,
        |         CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS BIGINT) AS stopword_count
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
        |           * (1.0 - CAST(punct_count AS DOUBLE) / nullif(n_chars, 0))
        |           * (0.5 + 0.5 * least(1.0, CAST(stopword_count AS DOUBLE) / nullif(n_tokens, 0) * 10.0))
        |           AS quality_score
        |  FROM qd),
        |m AS (
        |  SELECT a.doc_id, a.cluster_id, s.quality_score FROM assign a JOIN s USING (doc_id))
        |SELECT doc_id, cluster_id,
        |       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
        |       quality_score,
        |       first_value(doc_id) OVER (PARTITION BY cluster_id
        |         ORDER BY quality_score DESC, doc_id) AS survivor_doc_id,
        |       row_number() OVER (PARTITION BY cluster_id
        |         ORDER BY quality_score DESC, doc_id) = 1 AS is_survivor
        |FROM m""".stripMargin,
    "d14_curation_funnel" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
        |  FROM pos),
        |ks AS (SELECT unnest(range(0, 18)) AS k),
        |hs AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, CAST(k AS INT) AS k, min(h1 + k * h2) AS sig
        |  FROM hs CROSS JOIN ks GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, k // 3 AS band_j,
        |         md5(concat_ws('', CAST(min(CASE WHEN k % 3 = 0 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 1 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 2 THEN sig END) AS VARCHAR))) AS band_hash
        |  FROM sig GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band_j = b.band_j AND a.band_hash = b.band_hash
        |       AND a.doc_id < b.doc_id),
        |cdocs AS (SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand),
        |csh AS (SELECT sh.* FROM sh JOIN cdocs USING (doc_id)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
        |inter AS (
        |  SELECT cand.doc_a, cand.doc_b, count(*) AS inter
        |  FROM cand
        |  JOIN csh a ON cand.doc_a = a.doc_id
        |  JOIN csh b ON cand.doc_b = b.doc_id AND a.shingle = b.shingle
        |  GROUP BY 1, 2),
        |verified AS (
        |  SELECT cand.doc_a, cand.doc_b
        |  FROM cand
        |  LEFT JOIN inter ON cand.doc_a = inter.doc_a AND cand.doc_b = inter.doc_b
        |  JOIN sizes sa ON cand.doc_a = sa.doc_id
        |  JOIN sizes sb ON cand.doc_b = sb.doc_id
        |  WHERE CAST(coalesce(inter.inter, 0) AS DOUBLE)
        |          / CAST(sa.n + sb.n - coalesce(inter.inter, 0) AS DOUBLE) >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
        |          UNION ALL SELECT doc_b, doc_a FROM verified),
        |assign AS (
        |  SELECT src AS doc_id, min(dst) AS cluster_id FROM (
        |    WITH RECURSIVE reach(src, dst) AS (
        |      SELECT DISTINCT a, a FROM edges
        |      UNION
        |      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
        |    SELECT src, dst FROM reach)
        |  GROUP BY 1),
        |w13 AS (
        |  SELECT doc_id, source IN ('src0','src1') AS is_bench, t
        |  FROM (SELECT doc_id, source, regexp_extract_all(text, '\S+') AS t FROM documents)),
        |grams AS (
        |  SELECT DISTINCT doc_id, is_bench,
        |         md5(array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 12], ' ')) AS h
        |  FROM (SELECT doc_id, is_bench, t, unnest(range(1, len(t) - 11)) AS i
        |        FROM w13 WHERE len(t) >= 13)),
        |bgr AS (SELECT DISTINCT h FROM grams WHERE is_bench),
        |contaminated AS (
        |  SELECT DISTINCT g.doc_id FROM grams g JOIN bgr USING (h) WHERE NOT g.is_bench),
        |base AS (
        |  SELECT d.doc_id, d.source,
        |         CAST(len(regexp_extract_all(d.text, '\S+')) AS BIGINT) AS tk,
        |         min(d.doc_id) OVER (PARTITION BY md5(d.text)) AS keep_id
        |  FROM documents d),
        |flags AS (
        |  SELECT b.doc_id, b.source, b.tk,
        |         b.doc_id <> b.keep_id AS exact_removed,
        |         (a.doc_id IS NOT NULL AND b.doc_id <> a.cluster_id
        |          AND b.doc_id = b.keep_id) AS neardup_removed,
        |         (c.doc_id IS NOT NULL) AS contaminated
        |  FROM base b
        |  LEFT JOIN assign a ON b.doc_id = a.doc_id
        |  LEFT JOIN contaminated c ON b.doc_id = c.doc_id)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(tk) AS BIGINT) AS tokens,
        |       CAST(coalesce(sum(CASE WHEN exact_removed THEN 1 END), 0) AS BIGINT) AS n_exact_removed,
        |       CAST(coalesce(sum(CASE WHEN neardup_removed THEN 1 END), 0) AS BIGINT) AS n_neardup_removed,
        |       CAST(coalesce(sum(CASE WHEN NOT exact_removed AND NOT neardup_removed AND contaminated THEN 1 END), 0) AS BIGINT) AS n_contaminated_survivors,
        |       CAST(coalesce(sum(CASE WHEN NOT exact_removed AND NOT neardup_removed AND NOT contaminated THEN 1 END), 0) AS BIGINT) AS n_clean,
        |       CAST(coalesce(sum(CASE WHEN NOT exact_removed AND NOT neardup_removed AND NOT contaminated THEN tk END), 0) AS BIGINT) AS tokens_clean
        |FROM flags GROUP BY 1""".stripMargin,
    "d13_ngram_contamination" ->
      """WITH w AS (
        |  SELECT doc_id, source IN ('src0','src1') AS is_bench,
        |         regexp_extract_all(text, '\S+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, is_bench,
        |         md5(array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 12], ' ')) AS h
        |  FROM (SELECT doc_id, is_bench, t, unnest(range(1, len(t) - 11)) AS i
        |        FROM w WHERE len(t) >= 13)),
        |bench AS (SELECT DISTINCT doc_id AS bench_doc_id, h FROM grams WHERE is_bench),
        |corpus AS (SELECT doc_id, h FROM grams WHERE NOT is_bench)
        |SELECT c.doc_id,
        |       CAST(count(DISTINCT c.h) AS BIGINT) AS n_ngrams,
        |       CAST(count(DISTINCT CASE WHEN b.bench_doc_id IS NOT NULL THEN c.h END) AS BIGINT) AS n_collisions,
        |       CAST(count(DISTINCT b.bench_doc_id) AS BIGINT) AS n_bench_docs,
        |       count(DISTINCT CASE WHEN b.bench_doc_id IS NOT NULL THEN c.h END) > 0 AS is_contaminated
        |FROM corpus c LEFT JOIN bench b USING (h)
        |GROUP BY 1""".stripMargin,
    "d18_bloom_contamination" ->
      """WITH w AS (
        |  SELECT doc_id, source IN ('src0','src1') AS is_bench,
        |         regexp_extract_all(text, '\S+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, is_bench,
        |         md5(array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 12], ' ')) AS h
        |  FROM (SELECT doc_id, is_bench, t, unnest(range(1, len(t) - 11)) AS i
        |        FROM w WHERE len(t) >= 13)),
        |hp AS (
        |  SELECT doc_id, is_bench, h,
        |         CAST(('0x' || substr(h, 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(h, 17, 14)) AS BIGINT) AS h2
        |  FROM grams),
        |pb AS (
        |  SELECT doc_id, is_bench, h, (h1 + k * h2) % 1048576 AS pos
        |  FROM hp CROSS JOIN (SELECT unnest(range(0, 4)) AS k)),
        |fb AS (SELECT DISTINCT pos FROM pb WHERE is_bench),
        |hits AS (
        |  SELECT p.doc_id, p.h, CAST(count(*) AS BIGINT) AS n_hit
        |  FROM pb p JOIN fb USING (pos)
        |  WHERE NOT p.is_bench
        |  GROUP BY 1, 2),
        |flagged AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged
        |  FROM hits WHERE n_hit = 4 GROUP BY 1),
        |tot AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams
        |  FROM grams WHERE NOT is_bench GROUP BY 1)
        |SELECT t.doc_id, t.n_ngrams,
        |       coalesce(f.n_flagged, CAST(0 AS BIGINT)) AS n_flagged,
        |       coalesce(f.n_flagged, 0) > 0 AS is_flagged
        |FROM tot t LEFT JOIN flagged f USING (doc_id)""".stripMargin,
    // note: the recursive closure is a NESTED subquery with its own
    // WITH RECURSIVE — hoisting RECURSIVE onto the outer WITH makes
    // DuckDB 1.0 mis-evaluate the unnest()-bearing prefix CTEs
    // (verified came back with 21 rows and jaccard values > 1)
    "d12_dup_clusters" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
        |  FROM pos),
        |ks AS (SELECT unnest(range(0, 18)) AS k),
        |hs AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, CAST(k AS INT) AS k, min(h1 + k * h2) AS sig
        |  FROM hs CROSS JOIN ks GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, k // 3 AS band_j,
        |         md5(concat_ws('', CAST(min(CASE WHEN k % 3 = 0 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 1 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 2 THEN sig END) AS VARCHAR))) AS band_hash
        |  FROM sig GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band_j = b.band_j AND a.band_hash = b.band_hash
        |       AND a.doc_id < b.doc_id),
        |cdocs AS (SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand),
        |csh AS (SELECT sh.* FROM sh JOIN cdocs USING (doc_id)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
        |inter AS (
        |  SELECT cand.doc_a, cand.doc_b, count(*) AS inter
        |  FROM cand
        |  JOIN csh a ON cand.doc_a = a.doc_id
        |  JOIN csh b ON cand.doc_b = b.doc_id AND a.shingle = b.shingle
        |  GROUP BY 1, 2),
        |verified AS (
        |  SELECT cand.doc_a, cand.doc_b,
        |         CAST(coalesce(inter.inter, 0) AS DOUBLE)
        |           / CAST(sa.n + sb.n - coalesce(inter.inter, 0) AS DOUBLE) AS jaccard
        |  FROM cand
        |  LEFT JOIN inter ON cand.doc_a = inter.doc_a AND cand.doc_b = inter.doc_b
        |  JOIN sizes sa ON cand.doc_a = sa.doc_id
        |  JOIN sizes sb ON cand.doc_b = sb.doc_id
        |  WHERE CAST(coalesce(inter.inter, 0) AS DOUBLE)
        |          / CAST(sa.n + sb.n - coalesce(inter.inter, 0) AS DOUBLE) >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
        |          UNION ALL SELECT doc_b, doc_a FROM verified),
        |assign AS (
        |  SELECT src AS doc_id, min(dst) AS cluster_id FROM (
        |    WITH RECURSIVE reach(src, dst) AS (
        |      SELECT DISTINCT a, a FROM edges
        |      UNION
        |      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
        |    SELECT src, dst FROM reach)
        |  GROUP BY 1),
        |cstats AS (
        |  SELECT a.cluster_id,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(count(*) - 1 AS BIGINT) AS n_removed,
        |         CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources
        |  FROM assign a JOIN documents d USING (doc_id) GROUP BY 1),
        |pstats AS (
        |  SELECT aa.cluster_id,
        |         CAST(count(*) AS BIGINT) AS n_pairs,
        |         max(v.jaccard) AS max_jaccard
        |  FROM verified v JOIN assign aa ON v.doc_a = aa.doc_id GROUP BY 1)
        |SELECT c.cluster_id, c.n_docs, c.n_removed, c.n_sources, p.n_pairs, p.max_jaccard
        |FROM cstats c JOIN pstats p USING (cluster_id)""".stripMargin,
    "d10_effective_mixture" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
        |  FROM pos),
        |ks AS (SELECT unnest(range(0, 18)) AS k),
        |hs AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, CAST(k AS INT) AS k, min(h1 + k * h2) AS sig
        |  FROM hs CROSS JOIN ks GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, k // 3 AS band_j,
        |         md5(concat_ws('', CAST(min(CASE WHEN k % 3 = 0 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 1 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 2 THEN sig END) AS VARCHAR))) AS band_hash
        |  FROM sig GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band_j = b.band_j AND a.band_hash = b.band_hash
        |       AND a.doc_id < b.doc_id),
        |cdocs AS (SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand),
        |csh AS (SELECT sh.* FROM sh JOIN cdocs USING (doc_id)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
        |inter AS (
        |  SELECT cand.doc_a, cand.doc_b, count(*) AS inter
        |  FROM cand
        |  JOIN csh a ON cand.doc_a = a.doc_id
        |  JOIN csh b ON cand.doc_b = b.doc_id AND a.shingle = b.shingle
        |  GROUP BY 1, 2),
        |verified AS (
        |  SELECT cand.doc_a, cand.doc_b
        |  FROM cand
        |  LEFT JOIN inter ON cand.doc_a = inter.doc_a AND cand.doc_b = inter.doc_b
        |  JOIN sizes sa ON cand.doc_a = sa.doc_id
        |  JOIN sizes sb ON cand.doc_b = sb.doc_id
        |  WHERE CAST(coalesce(inter.inter, 0) AS DOUBLE)
        |          / CAST(sa.n + sb.n - coalesce(inter.inter, 0) AS DOUBLE) >= 0.5),
        |removed AS (SELECT DISTINCT doc_b AS doc_id FROM verified),
        |census AS (
        |  SELECT doc_id, source, lang,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tk
        |  FROM documents)
        |SELECT census.source, census.lang,
        |       count(*) AS n_docs,
        |       CAST(coalesce(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_removed,
        |       CAST(sum(census.tk) AS BIGINT) AS tokens_total,
        |       CAST(coalesce(sum(CASE WHEN r.doc_id IS NULL THEN census.tk ELSE 0 END), 0) AS BIGINT) AS tokens_kept,
        |       CAST(coalesce(sum(CASE WHEN r.doc_id IS NULL THEN census.tk ELSE 0 END), 0) AS DOUBLE)
        |         / CAST(sum(census.tk) AS DOUBLE) AS pct_tokens_kept
        |FROM census LEFT JOIN removed r ON census.doc_id = r.doc_id
        |GROUP BY 1, 2""".stripMargin,
    "d09_source_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
        |  FROM pos),
        |ks AS (SELECT unnest(range(0, 18)) AS k),
        |hs AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, CAST(k AS INT) AS k, min(h1 + k * h2) AS sig
        |  FROM hs CROSS JOIN ks GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, k // 3 AS band_j,
        |         md5(concat_ws('', CAST(min(CASE WHEN k % 3 = 0 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 1 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 2 THEN sig END) AS VARCHAR))) AS band_hash
        |  FROM sig GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band_j = b.band_j AND a.band_hash = b.band_hash
        |       AND a.doc_id < b.doc_id),
        |cdocs AS (SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand),
        |csh AS (SELECT sh.* FROM sh JOIN cdocs USING (doc_id)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
        |inter AS (
        |  SELECT cand.doc_a, cand.doc_b, count(*) AS inter
        |  FROM cand
        |  JOIN csh a ON cand.doc_a = a.doc_id
        |  JOIN csh b ON cand.doc_b = b.doc_id AND a.shingle = b.shingle
        |  GROUP BY 1, 2),
        |verified AS (
        |  SELECT cand.doc_a, cand.doc_b,
        |         CAST(coalesce(inter.inter, 0) AS DOUBLE)
        |           / CAST(sa.n + sb.n - coalesce(inter.inter, 0) AS DOUBLE) AS jaccard
        |  FROM cand
        |  LEFT JOIN inter ON cand.doc_a = inter.doc_a AND cand.doc_b = inter.doc_b
        |  JOIN sizes sa ON cand.doc_a = sa.doc_id
        |  JOIN sizes sb ON cand.doc_b = sb.doc_id
        |  WHERE CAST(coalesce(inter.inter, 0) AS DOUBLE)
        |          / CAST(sa.n + sb.n - coalesce(inter.inter, 0) AS DOUBLE) >= 0.5),
        |ws AS (
        |  SELECT least(d1.source, d2.source) AS source_a,
        |         greatest(d1.source, d2.source) AS source_b,
        |         v.jaccard
        |  FROM verified v
        |  JOIN documents d1 ON v.doc_a = d1.doc_id
        |  JOIN documents d2 ON v.doc_b = d2.doc_id)
        |SELECT source_a, source_b,
        |       count(*) AS n_dup_pairs,
        |       CAST(sum(CASE WHEN jaccard = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_identical,
        |       max(jaccard) AS max_jaccard
        |FROM ws GROUP BY 1, 2""".stripMargin,
    "d08_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
        |  FROM pos),
        |ks AS (SELECT unnest(range(0, 18)) AS k),
        |hs AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, CAST(k AS INT) AS k, min(h1 + k * h2) AS sig
        |  FROM hs CROSS JOIN ks GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, k // 3 AS band_j,
        |         md5(concat_ws('', CAST(min(CASE WHEN k % 3 = 0 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 1 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 2 THEN sig END) AS VARCHAR))) AS band_hash
        |  FROM sig GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band_j = b.band_j AND a.band_hash = b.band_hash
        |       AND a.doc_id < b.doc_id),
        |fl AS (SELECT doc_id, source IN ('src0','src1') AS is_bench FROM documents),
        |crossing AS (
        |  SELECT CASE WHEN fa.is_bench THEN cand.doc_a ELSE cand.doc_b END AS bench_doc_id,
        |         CASE WHEN fa.is_bench THEN cand.doc_b ELSE cand.doc_a END AS corpus_doc_id
        |  FROM cand JOIN fl fa ON cand.doc_a = fa.doc_id
        |            JOIN fl fb ON cand.doc_b = fb.doc_id
        |  WHERE fa.is_bench <> fb.is_bench),
        |cdocs AS (SELECT bench_doc_id AS doc_id FROM crossing UNION SELECT corpus_doc_id FROM crossing),
        |csh AS (SELECT sh.* FROM sh JOIN cdocs USING (doc_id)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
        |inter AS (
        |  SELECT least(crossing.bench_doc_id, crossing.corpus_doc_id) AS ia,
        |         greatest(crossing.bench_doc_id, crossing.corpus_doc_id) AS ib,
        |         count(*) AS inter
        |  FROM crossing
        |  JOIN csh a ON least(crossing.bench_doc_id, crossing.corpus_doc_id) = a.doc_id
        |  JOIN csh b ON greatest(crossing.bench_doc_id, crossing.corpus_doc_id) = b.doc_id
        |            AND a.shingle = b.shingle
        |  GROUP BY 1, 2),
        |verified AS (
        |  SELECT crossing.bench_doc_id, crossing.corpus_doc_id,
        |         CAST(coalesce(inter.inter, 0) AS DOUBLE)
        |           / CAST(sa.n + sb.n - coalesce(inter.inter, 0) AS DOUBLE) AS jaccard
        |  FROM crossing
        |  LEFT JOIN inter ON least(bench_doc_id, corpus_doc_id) = inter.ia
        |                 AND greatest(bench_doc_id, corpus_doc_id) = inter.ib
        |  JOIN sizes sa ON least(bench_doc_id, corpus_doc_id) = sa.doc_id
        |  JOIN sizes sb ON greatest(bench_doc_id, corpus_doc_id) = sb.doc_id
        |  WHERE CAST(coalesce(inter.inter, 0) AS DOUBLE)
        |          / CAST(sa.n + sb.n - coalesce(inter.inter, 0) AS DOUBLE) >= 0.5),
        |bdocs AS (SELECT doc_id AS bench_doc_id FROM fl WHERE is_bench)
        |SELECT b.bench_doc_id,
        |       CAST(count(v.corpus_doc_id) AS BIGINT) AS n_matches,
        |       coalesce(max(v.jaccard), 0.0) AS max_jaccard,
        |       min(v.corpus_doc_id) AS nearest_corpus_doc
        |FROM bdocs b LEFT JOIN verified v USING (bench_doc_id)
        |GROUP BY 1""".stripMargin,
    "d07_dedup_pipeline" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
        |  FROM pos),
        |ks AS (SELECT unnest(range(0, 18)) AS k),
        |hs AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, CAST(k AS INT) AS k, min(h1 + k * h2) AS sig
        |  FROM hs CROSS JOIN ks GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, k // 3 AS band_j,
        |         md5(concat_ws('', CAST(min(CASE WHEN k % 3 = 0 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 1 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 2 THEN sig END) AS VARCHAR))) AS band_hash
        |  FROM sig GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band_j = b.band_j AND a.band_hash = b.band_hash
        |       AND a.doc_id < b.doc_id),
        |cdocs AS (SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand),
        |csh AS (SELECT sh.* FROM sh JOIN cdocs USING (doc_id)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
        |inter AS (
        |  SELECT cand.doc_a, cand.doc_b, count(*) AS inter
        |  FROM cand
        |  JOIN csh a ON cand.doc_a = a.doc_id
        |  JOIN csh b ON cand.doc_b = b.doc_id AND a.shingle = b.shingle
        |  GROUP BY 1, 2),
        |verified AS (
        |  SELECT cand.doc_a, cand.doc_b,
        |         CAST(coalesce(inter.inter, 0) AS DOUBLE)
        |           / CAST(sa.n + sb.n - coalesce(inter.inter, 0) AS DOUBLE) AS jaccard
        |  FROM cand
        |  LEFT JOIN inter ON cand.doc_a = inter.doc_a AND cand.doc_b = inter.doc_b
        |  JOIN sizes sa ON cand.doc_a = sa.doc_id
        |  JOIN sizes sb ON cand.doc_b = sb.doc_id
        |  WHERE CAST(coalesce(inter.inter, 0) AS DOUBLE)
        |          / CAST(sa.n + sb.n - coalesce(inter.inter, 0) AS DOUBLE) >= 0.5)
        |SELECT doc_b AS removed_doc_id,
        |       min(doc_a) AS kept_partner,
        |       count(*) AS n_dup_pairs,
        |       max(jaccard) AS max_jaccard
        |FROM verified GROUP BY 1""".stripMargin,
    "d19_shard_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
        |  FROM pos),
        |ks AS (SELECT unnest(range(0, 18)) AS k),
        |hs AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, CAST(k AS INT) AS k, min(h1 + k * h2) AS sig
        |  FROM hs CROSS JOIN ks GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, k // 3 AS band_j,
        |         md5(concat_ws('', CAST(min(CASE WHEN k % 3 = 0 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 1 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 2 THEN sig END) AS VARCHAR))) AS band_hash
        |  FROM sig GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
        |  FROM bands a JOIN bands b ON a.band_j = b.band_j AND a.band_hash = b.band_hash
        |       AND a.doc_id <> b.doc_id
        |  WHERE a.doc_id % 5 = 4),
        |cdocs AS (SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand),
        |csh AS (SELECT sh.* FROM sh JOIN cdocs USING (doc_id)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
        |inter AS (
        |  SELECT cand.doc_a, cand.doc_b, count(*) AS inter
        |  FROM cand
        |  JOIN csh a ON cand.doc_a = a.doc_id
        |  JOIN csh b ON cand.doc_b = b.doc_id AND a.shingle = b.shingle
        |  GROUP BY 1, 2),
        |verified AS (
        |  SELECT cand.doc_a, cand.doc_b,
        |         CAST(coalesce(inter.inter, 0) AS DOUBLE)
        |           / CAST(sa.n + sb.n - coalesce(inter.inter, 0) AS DOUBLE) AS jaccard
        |  FROM cand
        |  LEFT JOIN inter ON cand.doc_a = inter.doc_a AND cand.doc_b = inter.doc_b
        |  JOIN sizes sa ON cand.doc_a = sa.doc_id
        |  JOIN sizes sb ON cand.doc_b = sb.doc_id
        |  WHERE CAST(coalesce(inter.inter, 0) AS DOUBLE)
        |          / CAST(sa.n + sb.n - coalesce(inter.inter, 0) AS DOUBLE) >= 0.5)
        |SELECT doc_b AS removed_doc_id,
        |       min(doc_a) AS kept_partner,
        |       count(*) AS n_dup_pairs,
        |       max(jaccard) AS max_jaccard,
        |       (doc_b % 5 = 4) AS is_shard_doc
        |FROM verified GROUP BY doc_b""".stripMargin,
    "d01_exact_dedup" ->
      """SELECT md5(text) AS fingerprint,
        |       min(doc_id) AS keep_doc_id,
        |       count(*) AS dup_count,
        |       count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY 1""".stripMargin,
    "d02_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, regexp_extract_all(text, '\S+') AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, lang, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, lang,
        |         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
        |  FROM pos),
        |sh AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(lang || chr(31) || shingle), 1, 15)) AS BIGINT) AS gh
        |  FROM sh0),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.gh = b.gh
        |       AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter,
        |       sa.n + sb.n - inter AS union_n,
        |       CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.2""".stripMargin,
    "d03_minhash_lsh" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
        |  FROM pos),
        |ks AS (SELECT unnest(range(0, 18)) AS k),
        |hs AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, CAST(k AS INT) AS k, min(h1 + k * h2) AS sig
        |  FROM hs CROSS JOIN ks GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, k // 3 AS band_j,
        |         md5(concat_ws('', CAST(min(CASE WHEN k % 3 = 0 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 1 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 2 THEN sig END) AS VARCHAR))) AS band_hash
        |  FROM sig GROUP BY 1, 2)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
        |FROM bands a JOIN bands b ON a.band_j = b.band_j AND a.band_hash = b.band_hash
        |     AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin,
    "d04_simhash" ->
      (simhash64OracleCte +
      """
        |SELECT doc_id, band0, band1, band2, band3,
        |       count(*) OVER (PARTITION BY band0) - 1 AS n_same_b0,
        |       count(*) OVER (PARTITION BY band1) - 1 AS n_same_b1,
        |       count(*) OVER (PARTITION BY band2) - 1 AS n_same_b2,
        |       count(*) OVER (PARTITION BY band3) - 1 AS n_same_b3
        |FROM sh""".stripMargin),
    "d21_route_union" ->
      (simhash64OracleCte +
      """,
        |lf AS (
        |  SELECT doc_id, b.band, b.val
        |  FROM sh, LATERAL (VALUES (0, band0), (1, band1), (2, band2), (3, band3)) b(band, val)),
        |scand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM lf a JOIN lf b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |srem AS (
        |  SELECT c.doc_b AS removed_doc_id, min(c.doc_a) AS s_kept
        |  FROM scand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id
        |  WHERE bit_count(xor(x.band0, y.band0)) + bit_count(xor(x.band1, y.band1))
        |      + bit_count(xor(x.band2, y.band2)) + bit_count(xor(x.band3, y.band3)) <= 3
        |  GROUP BY 1),
        |jt AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |jp AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM jt WHERE len(t) >= 3),
        |jsh AS (
        |  SELECT DISTINCT doc_id,
        |         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
        |  FROM jp),
        |ks AS (SELECT unnest(range(0, 18)) AS k),
        |hs AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
        |  FROM jsh),
        |sig AS (
        |  SELECT doc_id, CAST(k AS INT) AS k, min(h1 + k * h2) AS sig
        |  FROM hs CROSS JOIN ks GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, k // 3 AS band_j,
        |         md5(concat_ws('', CAST(min(CASE WHEN k % 3 = 0 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 1 THEN sig END) AS VARCHAR),
        |                           CAST(min(CASE WHEN k % 3 = 2 THEN sig END) AS VARCHAR))) AS band_hash
        |  FROM sig GROUP BY 1, 2),
        |jcand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band_j = b.band_j AND a.band_hash = b.band_hash
        |       AND a.doc_id < b.doc_id),
        |jcd AS (SELECT doc_a AS doc_id FROM jcand UNION SELECT doc_b FROM jcand),
        |jcs AS (SELECT jsh.* FROM jsh JOIN jcd USING (doc_id)),
        |jsz AS (SELECT doc_id, count(*) AS n FROM jcs GROUP BY 1),
        |jin AS (
        |  SELECT jcand.doc_a, jcand.doc_b, count(*) AS inter
        |  FROM jcand
        |  JOIN jcs a ON jcand.doc_a = a.doc_id
        |  JOIN jcs b ON jcand.doc_b = b.doc_id AND a.shingle = b.shingle
        |  GROUP BY 1, 2),
        |jrem AS (
        |  SELECT jcand.doc_b AS removed_doc_id, min(jcand.doc_a) AS j_kept
        |  FROM jcand
        |  LEFT JOIN jin ON jcand.doc_a = jin.doc_a AND jcand.doc_b = jin.doc_b
        |  JOIN jsz sa ON jcand.doc_a = sa.doc_id
        |  JOIN jsz sb ON jcand.doc_b = sb.doc_id
        |  WHERE CAST(coalesce(jin.inter, 0) AS DOUBLE)
        |          / CAST(sa.n + sb.n - coalesce(jin.inter, 0) AS DOUBLE) >= 0.5
        |  GROUP BY 1)
        |SELECT coalesce(j.removed_doc_id, s.removed_doc_id) AS removed_doc_id,
        |       (j.removed_doc_id IS NOT NULL) AS by_jaccard,
        |       (s.removed_doc_id IS NOT NULL) AS by_simhash,
        |       least(j.j_kept, s.s_kept) AS kept_partner
        |FROM jrem j FULL OUTER JOIN srem s ON j.removed_doc_id = s.removed_doc_id""".stripMargin),
    "d20_simhash_dedup" ->
      (simhash64OracleCte +
      """,
        |lf AS (
        |  SELECT doc_id, b.band, b.val
        |  FROM sh, LATERAL (VALUES (0, band0), (1, band1), (2, band2), (3, band3)) b(band, val)),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM lf a JOIN lf b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT c.doc_a, c.doc_b,
        |         CAST(bit_count(xor(x.band0, y.band0)) + bit_count(xor(x.band1, y.band1))
        |            + bit_count(xor(x.band2, y.band2)) + bit_count(xor(x.band3, y.band3)) AS BIGINT) AS hamming_dist
        |  FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id)
        |SELECT doc_b AS removed_doc_id,
        |       min(doc_a) AS kept_partner,
        |       count(*) AS n_dup_pairs,
        |       min(hamming_dist) AS min_hamming_dist
        |FROM pairs WHERE hamming_dist <= 3 GROUP BY doc_b""".stripMargin),
    "d17_simhash_pairs" ->
      (simhash64OracleCte +
      """,
        |lf AS (
        |  SELECT doc_id, b.band, b.val
        |  FROM sh, LATERAL (VALUES (0, band0), (1, band1), (2, band2), (3, band3)) b(band, val)),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared_bands
        |  FROM lf a JOIN lf b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT c.doc_a, c.doc_b, c.n_shared_bands,
        |       CAST(bit_count(xor(x.band0, y.band0)) + bit_count(xor(x.band1, y.band1))
        |          + bit_count(xor(x.band2, y.band2)) + bit_count(xor(x.band3, y.band3)) AS BIGINT) AS hamming_dist,
        |       (bit_count(xor(x.band0, y.band0)) + bit_count(xor(x.band1, y.band1))
        |          + bit_count(xor(x.band2, y.band2)) + bit_count(xor(x.band3, y.band3))) <= 3 AS is_near_dup
        |FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id""".stripMargin))

  /** Shared 64-bit SimHash oracle prelude: per-(doc, nibble-bit) signed
    * sums → 64 bits → the four 16-bit band values, replaying
    * [[simhashBands]] exactly (same md5-nibble bit source, same
    * per-occurrence weighting via the (doc, token) counts).
    */
  private def simhash64OracleCte: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS token FROM documents),
      |tc AS (SELECT doc_id, md5(token) AS m, count(*) AS cnt FROM toks GROUP BY 1, 2),
      |js AS (SELECT unnest(range(0, 64)) AS j),
      |bits AS (
      |  SELECT doc_id, CAST(j AS INT) AS j,
      |         CAST(sum(cnt * (CASE
      |           WHEN j % 4 = 0 THEN CASE WHEN substr(m, CAST(j // 4 AS INT) + 1, 1)
      |                IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END
      |           WHEN j % 4 = 1 THEN CASE WHEN substr(m, CAST(j // 4 AS INT) + 1, 1)
      |                IN ('2','3','6','7','a','b','e','f') THEN 1 ELSE -1 END
      |           WHEN j % 4 = 2 THEN CASE WHEN substr(m, CAST(j // 4 AS INT) + 1, 1)
      |                IN ('4','5','6','7','c','d','e','f') THEN 1 ELSE -1 END
      |           ELSE CASE WHEN substr(m, CAST(j // 4 AS INT) + 1, 1)
      |                IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END END)) > 0
      |           AS BIGINT) AS bit
      |  FROM tc CROSS JOIN js GROUP BY 1, 2),
      |bandvals AS (
      |  SELECT doc_id, CAST(j // 16 AS INT) AS band,
      |         CAST(sum(bit * CAST(round(power(2, j % 16), 0) AS BIGINT)) AS BIGINT) AS val
      |  FROM bits GROUP BY 1, 2),
      |sh AS (
      |  SELECT doc_id,
      |         max(CASE WHEN band = 0 THEN val END) AS band0,
      |         max(CASE WHEN band = 1 THEN val END) AS band1,
      |         max(CASE WHEN band = 2 THEN val END) AS band2,
      |         max(CASE WHEN band = 3 THEN val END) AS band3
      |  FROM bandvals GROUP BY 1)""".stripMargin
}
