package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deterministic sketch operators — the bounded-state summaries a
  * 100 TB corpus is actually profiled with. Exact distinct counts,
  * heavy-hitter tables, and pairwise source overlap all require
  * corpus-sized shuffles (the vocabulary is the shuffle key set);
  * the sketch forms collapse each of them onto a FIXED-size state —
  * 256 HLL registers, a 4×1024 count-min grid, a hash-thresholded
  * vocabulary sample — that map-side combine reduces to kilobytes per
  * partition regardless of input size, and that merges associatively
  * across shards/streams (the same mergeability Spark's own
  * `approx_count_distinct` HLL++ exploits).
  *
  * Why hand-rolled rather than `approx_count_distinct` /
  * `count_min_sketch`: the built-ins hash with engine-private seeds, so
  * no external oracle can replay them. This family derives every
  * register from the shared 60-bit md5-prefix BIGINT key (the Dedup
  * d28 discipline) and keeps all estimator state in integer arithmetic
  * — both engines produce bit-identical registers, and the one
  * floating-point step per operator (the final estimate) is a fixed
  * chain of IEEE ops on identical integers, so even the doubles
  * hash-match. The verification leg (the exact pass each sketch
  * replaces) ships alongside at test scale; at 100 TB only the sketch
  * side runs.
  */
object Sketches {

  /** 60-bit md5-prefix BIGINT — the house hash key (Dedup.wordGrams
    * discipline; DuckDB replays it as CAST('0x'||substr(md5(x),1,15)).
    */
  private def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private val tokenPat = "\\S+"

  /** (source, h): 60-bit hash per whitespace token occurrence. */
  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        explode(regexp_extract_all(col("text"), lit(tokenPat), lit(0))).as("token"))
      .select(col("source"), col("token"), h60(col("token")).as("h"))

  // ─── s01 HyperLogLog distinct count ─────────────────────────────────

  /** HLL register count m (bucket = h % 256; 52 rank bits remain). */
  private val HllBuckets = 256
  /** Standard HLL bias constant α_m = 0.7213/(1 + 1.079/m) for m ≥ 128.
    * Computed ONCE here and interpolated into both engines' final
    * expression, so the engines share the exact double literal.
    */
  private val HllAlpha = 0.7213 / (1.0 + 1.079 / HllBuckets)
  /** α's companion constant m²·2⁵³ (exact in double — a power of two
    * times 2¹⁶). The harmonic sum is kept as the INTEGER
    * S = Σ 2^(53-reg) (reg ∈ [0, 53], so every term is integral and the
    * 256-term sum is ≤ 2⁶¹ — order-independent, exact), and the
    * estimate α·m²/Z with Z = S/2⁵³ becomes α·(m²·2⁵³)/S: one double
    * multiply and one divide on deterministic operands.
    */
  private val HllM2P53 = HllBuckets.toDouble * HllBuckets * (1L << 53).toDouble
  /** Small-range (linear-counting) correction table: est = m·ln(m/V)
    * for V zero registers. ln CANNOT run at query time — JVM Math.log
    * and DuckDB's libm differ in the last ulp, which would break the
    * cross-engine hash contract — so the 257 possible values are
    * computed ONCE here and embedded as shared literals in BOTH
    * engines' plans (a lookup, not a transcendental). V = 0 never
    * consults the table (the raw estimate is used).
    */
  private val HllLcTable: IndexedSeq[Double] =
    (0 to HllBuckets).map(v =>
      if (v == 0) 0.0 else HllBuckets * math.log(HllBuckets.toDouble / v))
  /** Standard small-range threshold: apply linear counting when the raw
    * estimate is below 2.5·m and zero registers exist.
    */
  private val HllLcThreshold = 2.5 * HllBuckets

  /** Corrected estimate from (zero_registers, raw_estimate) — the
    * literal-table linear-counting branch (Spark side).
    */
  private def hllCorrected(zeroRegs: Column, raw: Column): Column =
    when(zeroRegs > 0 && raw <= lit(HllLcThreshold),
      element_at(array(HllLcTable.map(lit): _*), zeroRegs.cast("int") + 1))
      .otherwise(raw)

  /** The same correction as a DuckDB CTE + CASE (oracle side): `lc` is
    * the literal table, keyed by zero-register count.
    */
  private def hllLcCte: String =
    // CAST('…' AS DOUBLE): a bare decimal literal parses as DECIMAL in
    // DuckDB and loses the last ulp on double conversion; the string
    // cast is a correct-rounding parse of the exact same shortest-repr
    // digits Spark's lit() carries
    s"lc(v, lc_est) AS (VALUES ${(0 to HllBuckets)
      .map(v => s"($v, CAST('${HllLcTable(v)}' AS DOUBLE))").mkString(", ")})"
  private def hllCorrectedSql(zeroRegs: String, raw: String): String =
    s"CASE WHEN $zeroRegs > 0 AND $raw <= $HllLcThreshold THEN lc.lc_est ELSE $raw END"

  /** Shared-double SQL literal: the same CAST('…' AS DOUBLE) discipline
    * as [[hllLcCte]] — a BARE decimal literal parses as DECIMAL in
    * DuckDB and can lose the last ulp converting to double, while the
    * string cast is a correct-rounding parse of the exact shortest-repr
    * digits Spark's lit() carries. Every fractional double constant
    * interpolated into oracle SQL goes through this.
    */
  private def dlit(x: Double): String = s"CAST('$x' AS DOUBLE)"

  /** s01: per-source distinct-token cardinality — HLL sketch vs exact.
    *
    * Scale: the sketch path never shuffles the corpus. Register build
    * is one hash aggregation whose key space is ≤ sources × 256, so
    * map-side combine reduces every partition to at most 256 rows per
    * source before the exchange — input size only affects the scan.
    * Registers merge by max, so shard/stream sketches combine without
    * re-reading data. The exact leg (distinct + count — a vocab-sized
    * shuffle) is the verification column the sketch replaces at 100 TB;
    * it rides along here because the operator's CONTRACT is the error
    * report, not just the estimate.
    *
    * Determinism: rank = 53 − msb(h div 256) via the bin-string length
    * (no log2 — libm ulps differ across engines), registers and the
    * harmonic sum are BIGINTs, and the raw estimate is a fixed two-op
    * IEEE chain on those BIGINTs. The standard small-range
    * linear-counting correction (m·ln(m/V) when the raw estimate is
    * under 2.5·m and zero registers exist) IS applied — but ln never
    * runs at query time: the 257 possible values live in
    * [[HllLcTable]], computed once here and embedded as literals in
    * both engines' plans, so the correction is a lookup and the hash
    * contract holds to the last ulp.
    */
  /** (key, bucket, rank) per token occurrence — the pre-aggregation
    * register stream. Shared by the batch operators (s01/s05) and the
    * streaming twin (graft.streaming.SketchStream): the register
    * aggregation `groupBy(key, bucket).max(rank)` is legal on a
    * STREAMING frame too, and its state is bounded BY CONSTRUCTION
    * (≤ keys×256 rows) — the sketch IS the streaming state.
    */
  private[graft] def hllRankStream(keyed: DataFrame, key: String): DataFrame =
    keyed
      .select(col(key),
        expr(s"h % $HllBuckets").as("bucket"),
        expr(s"h div $HllBuckets").as("w"))
      .select(col(key), col("bucket"),
        when(col("w") === 0, lit(53)).otherwise(lit(53) - length(bin(col("w")))).as("rank"))

  /** Token stream → (source, h) for any docs frame (batch or streaming). */
  private[graft] def tokenHashes(docs: DataFrame): DataFrame =
    tokens(docs).select(col("source"), col("h"))

  // ── cross-module HLL seam (e13 rolling-active sketch tier) ──────────
  /** The house 60-bit hash, exposed for operators that sketch non-token
    * keys (e13 hashes user ids). Same DuckDB replay as everywhere:
    * CAST('0x'||substr(md5(x),1,15) AS BIGINT).
    */
  private[graft] def hash60(c: Column): Column = h60(c)
  /** Register count m — consumers size their zero-register arithmetic
    * off this, never a literal 256.
    */
  private[graft] def bucketsCount: Int = HllBuckets
  /** (key, bucket, reg) register state for a keyed 60-bit hash stream —
    * one map-side-combining aggregation, ≤ keys×m rows.
    */
  private[graft] def registersOf(keyed: DataFrame, key: String): DataFrame =
    hllRankStream(keyed, key)
      .groupBy(col(key), col("bucket"))
      .agg(max(col("rank")).as("reg"))
  /** Corrected HLL estimate from a window's state: `nz` = non-null
    * register count, `sPresent` = Σ 2^(53−reg) over present registers
    * (both BIGINT-exact; the s01 determinism discipline).
    */
  private[graft] def hllEstimate(nz: Column, sPresent: Column): Column = {
    val zr = lit(HllBuckets.toLong) - nz
    val sfp = sPresent + zr * lit(1L << 53)
    val raw = lit(HllAlpha) * lit(HllM2P53) / sfp.cast("double")
    hllCorrected(zr, raw)
  }
  /** Oracle twins of the three pieces above (interpolated into consumer
    * oracle SQL so both engines share the exact literals).
    */
  private[graft] def hash60Sql(x: String): String =
    s"CAST(('0x' || substr(md5($x), 1, 15)) AS BIGINT)"
  private[graft] def rankSql(h: String): String =
    s"CASE WHEN $h // $HllBuckets = 0 THEN 53 " +
      s"ELSE 53 - length(bin($h // $HllBuckets)) END"
  private[graft] def lcCteSql: String = hllLcCte
  private[graft] def estimateSql(nz: String, sPresent: String,
      lcAlias: String): String = {
    val zr = s"(CAST($HllBuckets AS BIGINT) - $nz)"
    val sfp = s"($sPresent + $zr * (CAST(1 AS BIGINT) << 53))"
    val raw = s"(${dlit(HllAlpha)} * ${dlit(HllM2P53)} / CAST($sfp AS DOUBLE))"
    s"CASE WHEN $zr > 0 AND $raw <= $HllLcThreshold " +
      s"THEN $lcAlias.lc_est ELSE $raw END"
  }
  /** Join key for the lc table alias used with [[estimateSql]]. */
  private[graft] def lcJoinKeySql(nz: String): String =
    s"(CAST($HllBuckets AS BIGINT) - $nz)"

  def hllDistinct(spark: SparkSession, dir: String): DataFrame =
    hllDistinctOf(Tables.documents(spark, dir))

  private[graft] def hllDistinctOf(docs: DataFrame): DataFrame = {
    val tok = tokenHashes(docs)
    // registers straight off the token stream — duplicates are absorbed
    // by max(), so no distinct precedes the sketch (that's the point)
    val reg = hllRankStream(tok, "source")
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("rank")).as("reg"))
    val sk = reg.groupBy(col("source")).agg(
        count(lit(1)).as("nz"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - reg)")).as("s_present"))
      .select(col("source"), col("nz"),
        (lit(HllBuckets.toLong) - col("nz")).as("zero_registers"),
        (col("s_present") + (lit(HllBuckets.toLong) - col("nz")) * lit(1L << 53)).as("s_fp"))
      .withColumn("raw_estimate", lit(HllAlpha) * lit(HllM2P53) / col("s_fp").cast("double"))
      .withColumn("hll_estimate",
        hllCorrected(col("zero_registers"), col("raw_estimate")))
    // verification leg: the vocab-sized exact pass the sketch replaces
    val exact = tok.distinct().groupBy(col("source"))
      .agg(count(lit(1)).as("exact_distinct"))
    sk.join(exact, Seq("source"))
      .select(col("source"), col("exact_distinct"),
        col("nz").as("filled_registers"), col("zero_registers"),
        col("s_fp").as("harmonic_sum_fp"), col("raw_estimate"), col("hll_estimate"),
        floor(abs(col("hll_estimate") - col("exact_distinct").cast("double")) * 1000.0
          / col("exact_distinct").cast("double")).as("err_permille"))
  }

  private def hllSql: String =
    s"""WITH tok AS (
       |  SELECT source, CAST(('0x' || substr(md5(t.token), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT source, unnest(regexp_extract_all(text, '$tokenPat')) AS token
       |        FROM documents) t),
       |reg AS (
       |  SELECT source, h % $HllBuckets AS bucket,
       |         max(CASE WHEN h // $HllBuckets = 0 THEN 53
       |                  ELSE 53 - length(bin(h // $HllBuckets)) END) AS reg
       |  FROM tok GROUP BY 1, 2),
       |sk AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS nz,
       |         CAST(sum(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT) AS s_present
       |  FROM reg GROUP BY 1),
       |est AS (
       |  SELECT source, nz, CAST($HllBuckets AS BIGINT) - nz AS zero_registers,
       |         s_present + (CAST($HllBuckets AS BIGINT) - nz) * (CAST(1 AS BIGINT) << 53) AS s_fp
       |  FROM sk),
       |${hllLcCte},
       |est2 AS (
       |  SELECT est.*, ${dlit(HllAlpha)} * ${dlit(HllM2P53)} / CAST(s_fp AS DOUBLE) AS raw_estimate,
       |         ${hllCorrectedSql("zero_registers",
                   s"(${dlit(HllAlpha)} * ${dlit(HllM2P53)} / CAST(s_fp AS DOUBLE))")} AS hll_estimate
       |  FROM est JOIN lc ON lc.v = est.zero_registers),
       |ex AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS exact_distinct
       |  FROM (SELECT DISTINCT source, h FROM tok) GROUP BY 1)
       |SELECT e2.source, e.exact_distinct, e2.nz AS filled_registers,
       |       e2.zero_registers, e2.s_fp AS harmonic_sum_fp, e2.raw_estimate,
       |       e2.hll_estimate,
       |       CAST(floor(abs(e2.hll_estimate - CAST(e.exact_distinct AS DOUBLE)) * 1000.0
       |            / CAST(e.exact_distinct AS DOUBLE)) AS BIGINT) AS err_permille
       |FROM est2 e2 JOIN ex e USING (source)""".stripMargin

  /** s05: HLL MERGEABILITY, oracle-checked — the property the whole
    * sketch family's shard/stream story rests on, made a verifiable
    * result instead of a comment. Builds the per-source registers
    * (s01's state), merges them by bucket-wise max — the way a 100 TB
    * run combines per-shard sketches WITHOUT re-reading any shard —
    * and emits the merged estimate next to (a) the register state a
    * direct global build would produce and (b) the exact global
    * distinct count. merged_equals_direct is computed IN the result:
    * the oracle replays both constructions, so a broken merge (any
    * register, any path) flips a hashed column.
    *
    * Scale: the merge aggregates ≤ sources×256 register rows onto 256
    * buckets — constant work; only the verification legs touch the
    * corpus.
    */
  def hllUnion(spark: SparkSession, dir: String): DataFrame =
    hllUnionOf(Tables.documents(spark, dir))

  private[graft] def hllUnionOf(docs: DataFrame): DataFrame = {
    val tok = tokenHashes(docs)
    def regs(keyed: DataFrame): DataFrame =
      hllRankStream(keyed, "grp")
        .groupBy(col("grp"), col("bucket"))
        .agg(max(col("rank")).as("reg"))
    def estimate(reg: DataFrame): DataFrame = reg
      .groupBy(col("grp")).agg(
        count(lit(1)).as("nz"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - reg)")).as("s_present"))
      .select(col("grp"),
        (lit(HllBuckets.toLong) - col("nz")).as("zr"),
        (col("s_present") + (lit(HllBuckets.toLong) - col("nz")) * lit(1L << 53)).as("s_fp"))

    // shard path: per-source registers, merged by bucket-wise max
    val merged = regs(tok.select(col("source").as("grp"), col("h")))
      .groupBy(col("bucket")).agg(max(col("reg")).as("reg"))
      .select(lit("all").as("grp"), col("bucket"), col("reg"))
    // direct path: one global build over the same stream
    val direct = regs(tok.select(lit("all").as("grp"), col("h")))

    val mEst = estimate(merged)
      .select(col("zr").as("merged_zr"), col("s_fp").as("merged_s_fp"))
    val dEst = estimate(direct).select(col("s_fp").as("direct_s_fp"))
    val exact = tok.select(col("h")).distinct().agg(count(lit(1)).as("exact_distinct"))
    mEst.crossJoin(broadcast(dEst)).crossJoin(broadcast(exact))
      .withColumn("raw_estimate",
        lit(HllAlpha) * lit(HllM2P53) / col("merged_s_fp").cast("double"))
      .select(col("exact_distinct"), col("merged_s_fp"), col("direct_s_fp"),
        (col("merged_s_fp") === col("direct_s_fp")).as("merged_equals_direct"),
        col("raw_estimate"),
        hllCorrected(col("merged_zr"), col("raw_estimate")).as("hll_estimate"))
      .withColumn("err_permille",
        floor(abs(col("hll_estimate") - col("exact_distinct").cast("double")) * 1000.0
          / col("exact_distinct").cast("double")))
  }

  private def hllUnionSql: String =
    s"""WITH tok AS (
       |  SELECT source, CAST(('0x' || substr(md5(t.token), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT source, unnest(regexp_extract_all(text, '$tokenPat')) AS token
       |        FROM documents) t),
       |srcreg AS (
       |  SELECT source, h % $HllBuckets AS bucket,
       |         max(CASE WHEN h // $HllBuckets = 0 THEN 53
       |                  ELSE 53 - length(bin(h // $HllBuckets)) END) AS reg
       |  FROM tok GROUP BY 1, 2),
       |merged AS (SELECT bucket, max(reg) AS reg FROM srcreg GROUP BY 1),
       |direct AS (
       |  SELECT h % $HllBuckets AS bucket,
       |         max(CASE WHEN h // $HllBuckets = 0 THEN 53
       |                  ELSE 53 - length(bin(h // $HllBuckets)) END) AS reg
       |  FROM tok GROUP BY 1),
       |msum AS (
       |  SELECT CAST($HllBuckets AS BIGINT) - count(*) AS merged_zr,
       |         CAST(sum(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT)
       |         + (CAST($HllBuckets AS BIGINT) - count(*)) * (CAST(1 AS BIGINT) << 53)
       |           AS merged_s_fp
       |  FROM merged),
       |dsum AS (
       |  SELECT CAST(sum(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT)
       |         + (CAST($HllBuckets AS BIGINT) - count(*)) * (CAST(1 AS BIGINT) << 53)
       |           AS direct_s_fp
       |  FROM direct),
       |ex AS (
       |  SELECT CAST(count(*) AS BIGINT) AS exact_distinct
       |  FROM (SELECT DISTINCT h FROM tok)),
       |${hllLcCte},
       |est AS (
       |  SELECT ex.exact_distinct, m.merged_s_fp, d.direct_s_fp,
       |         m.merged_s_fp = d.direct_s_fp AS merged_equals_direct,
       |         ${dlit(HllAlpha)} * ${dlit(HllM2P53)} / CAST(m.merged_s_fp AS DOUBLE) AS raw_estimate,
       |         ${hllCorrectedSql("m.merged_zr",
                   s"(${dlit(HllAlpha)} * ${dlit(HllM2P53)} / CAST(m.merged_s_fp AS DOUBLE))")} AS hll_estimate
       |  FROM msum m JOIN lc ON lc.v = m.merged_zr, dsum d, ex)
       |SELECT *,
       |       CAST(floor(abs(hll_estimate - CAST(exact_distinct AS DOUBLE)) * 1000.0
       |            / CAST(exact_distinct AS DOUBLE)) AS BIGINT) AS err_permille
       |FROM est""".stripMargin

  // ─── s02 count-min heavy hitters ────────────────────────────────────

  /** Count-min width (counters per row) and depth (rows). 4×1024 bounds
    * the overestimate by 2·N/1024 per probe with failure probability
    * e⁻⁴ — plenty to rank the corpus's true heavy hitters while the
    * whole sketch stays one 4096-cell grid.
    */
  private val CmsW = 1024
  private val CmsD = 4
  private val CmsTopK = 20

  /** s02: corpus token heavy hitters — count-min estimates vs exact.
    *
    * Scale: the sketch build fans every token occurrence out to D = 4
    * cells and hash-aggregates onto the 4096-cell grid — map-side
    * combine collapses each partition to ≤ 4096 rows before the
    * exchange, so the build's shuffle is CONSTANT-size regardless of
    * corpus size, and grids from different shards merge by cell-wise
    * sum (the streaming/mergeable heavy-hitter path). Probing joins the
    * bounded top-K row set (TakeOrderedAndProject — the q06 idiom)
    * against the grid on (r, bucket): a broadcast of at most 4·K rows.
    * The exact top-K leg is the verification pass the sketch replaces.
    *
    * Determinism: the D probes are Kirsch–Mitzenmacher h1 + i·h2 over
    * the two md5 halves (the d03 signature discipline) — no engine-seed
    * hashing; counts and estimates are BIGINTs throughout. CMS
    * guarantees est ≥ exact (one-sided error); SketchesSpec pins it.
    */
  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    cmsHeavyHittersOf(Tables.documents(spark, dir))

  /** (token, h1, h2) per occurrence — the Kirsch–Mitzenmacher hash pair
    * over the two md5 halves.
    */
  private def cmsHashed(docs: DataFrame): DataFrame =
    tokens(docs).select(col("token"),
      col("h").as("h1"),
      conv(substring(md5(col("token")), 17, 14), 16, 10).cast("long").as("h2"))
  private def cmsProbe: Column = explode(array((0 until CmsD).map(i =>
    struct(lit(i).as("r"), expr(s"(h1 + $i * h2) % $CmsW").as("bucket"))): _*)).as("c")

  /** The CMS grid build — (r, bucket, cell) counts, legal on batch AND
    * streaming frames (the streaming twin's state is the 4096-cell grid
    * itself, constant-size by construction; cells from shards/streams
    * merge by cell-wise SUM).
    */
  private[graft] def cmsCells(docs: DataFrame): DataFrame =
    cmsHashed(docs).select(cmsProbe)
      .groupBy(col("c.r").as("r"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cell"))

  private[graft] def cmsHeavyHittersOf(docs: DataFrame): DataFrame = {
    val hashed = cmsHashed(docs)
    def probeCols: Column = cmsProbe
    val cells = cmsCells(docs)
    val top = hashed.groupBy(col("token"), col("h1"), col("h2"))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token"))
      .limit(CmsTopK)
    val probes = top.select(col("token"), col("exact_cnt"), probeCols)
      .select(col("token"), col("exact_cnt"),
        col("c.r").as("r"), col("c.bucket").as("bucket"))
    probes.join(cells, Seq("r", "bucket"))
      .groupBy(col("token"), col("exact_cnt"))
      .agg(min(col("cell")).as("cms_est"))
      .select(col("token"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overestimate"))
  }

  private def cmsSql: String =
    s"""WITH tok AS (
       |  SELECT unnest(regexp_extract_all(text, '$tokenPat')) AS token FROM documents),
       |hashed AS (
       |  SELECT token,
       |         CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h1,
       |         CAST(('0x' || substr(md5(token), 17, 14)) AS BIGINT) AS h2
       |  FROM tok),
       |cells AS (
       |  SELECT CAST(i AS INTEGER) AS r, (h1 + i * h2) % $CmsW AS bucket,
       |         CAST(count(*) AS BIGINT) AS cell
       |  FROM hashed, range($CmsD) t(i) GROUP BY 1, 2),
       |top AS (
       |  SELECT token, h1, h2, CAST(count(*) AS BIGINT) AS exact_cnt
       |  FROM hashed GROUP BY 1, 2, 3
       |  ORDER BY exact_cnt DESC, token LIMIT $CmsTopK),
       |probes AS (
       |  SELECT token, exact_cnt, CAST(i AS INTEGER) AS r, (h1 + i * h2) % $CmsW AS bucket
       |  FROM top, range($CmsD) t(i))
       |SELECT p.token, p.exact_cnt, min(c.cell) AS cms_est,
       |       min(c.cell) - p.exact_cnt AS overestimate
       |FROM probes p JOIN cells c USING (r, bucket)
       |GROUP BY 1, 2""".stripMargin

  // ─── s03 theta-style source overlap ─────────────────────────────────

  /** Theta sample threshold: keep distinct hashes below 2⁵⁴ — a fixed
    * 1/64 slice of the 60-bit key space. A FIXED threshold (the theta
    * sketch's fixed-θ variant) instead of bottom-k: the sample is then
    * a pure scan-side filter — one predicate, no per-source ranking
    * window — and two sources' samples are directly intersectable
    * because they kept the SAME key range.
    */
  private val ThetaShift = 6
  private val ThetaT = 1L << (60 - ThetaShift)

  /** s03: pairwise source vocabulary overlap — theta-sampled Jaccard vs
    * exact. d09 computes the exact per-source doc overlap; this is its
    * sketch-tier vocabulary sibling: at 100 TB the exact form's
    * vocab-sized self-join is the bottleneck, and the thetasample
    * bounds it to 2⁻⁶ of the vocabulary per side (tune [[ThetaShift]]
    * to the memory budget — error ~1/√(θ·|union|)).
    *
    * Scale: the sample predicate (h < T) sits directly on the
    * distinct-hash frame — everything downstream (sizes, pairwise
    * intersection, the ≤ sources² grid) operates on the 1/64 slice.
    * The pair grid builds from the per-source size frame (a ≤ sources
    * row broadcast self-join), so pairs with EMPTY sampled
    * intersections still appear (absence is a finding).
    *
    * Determinism: permille ratios are integer div; the only join keys
    * are the shared 60-bit hashes.
    */
  def thetaOverlap(spark: SparkSession, dir: String): DataFrame =
    thetaOverlapOf(Tables.documents(spark, dir))

  private[graft] def thetaOverlapOf(docs: DataFrame): DataFrame = {
    val tokD = tokens(docs).select(col("source"), col("h")).distinct()
    val samp = tokD.filter(col("h") < lit(ThetaT))

    def sizes(df: DataFrame, cnt: String): DataFrame =
      df.groupBy(col("source")).agg(count(lit(1)).as(cnt))
    def inter(df: DataFrame, cnt: String): DataFrame =
      df.as("a").join(df.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as(cnt))

    // pair grid from the EXACT size frame: a source whose theta sample
    // came up empty (tiny source) must still appear in its pairs —
    // absence is a finding, so the sample side joins in as 0, never
    // drops the row
    val exSz = sizes(tokD, "n_exact")
    val sampSz = sizes(samp, "n_samp")
    val base = exSz.as("x")
      .join(broadcast(exSz.as("y")), col("x.source") < col("y.source"))
      .select(col("x.source").as("src_a"), col("y.source").as("src_b"),
        col("x.n_exact").as("n_exact_a"), col("y.n_exact").as("n_exact_b"))
      .join(broadcast(sampSz.select(col("source").as("src_a"),
        col("n_samp").as("n_samp_a"))), Seq("src_a"), "left")
      .join(broadcast(sampSz.select(col("source").as("src_b"),
        col("n_samp").as("n_samp_b"))), Seq("src_b"), "left")

    base
      .join(inter(samp, "inter_samp"), Seq("src_a", "src_b"), "left")
      .join(inter(tokD, "inter_exact"), Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        col("n_exact_a"), col("n_exact_b"),
        coalesce(col("inter_exact"), lit(0L)).as("inter_exact"),
        coalesce(col("n_samp_a"), lit(0L)).as("n_samp_a"),
        coalesce(col("n_samp_b"), lit(0L)).as("n_samp_b"),
        coalesce(col("inter_samp"), lit(0L)).as("inter_samp"))
      .withColumn("exact_jacc_permille",
        expr("(1000 * inter_exact) div (n_exact_a + n_exact_b - inter_exact)"))
      .withColumn("theta_jacc_permille",
        when(col("n_samp_a") + col("n_samp_b") - col("inter_samp") === 0, lit(0L))
          .otherwise(expr("(1000 * inter_samp) div (n_samp_a + n_samp_b - inter_samp)")))
      .withColumn("err_permille",
        abs(col("theta_jacc_permille") - col("exact_jacc_permille")))
  }

  private def thetaSql: String =
    s"""WITH tokD AS (
       |  SELECT DISTINCT source, CAST(('0x' || substr(md5(t.token), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT source, unnest(regexp_extract_all(text, '$tokenPat')) AS token
       |        FROM documents) t),
       |samp AS (SELECT * FROM tokD WHERE h < $ThetaT),
       |ssz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM samp GROUP BY 1),
       |esz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM tokD GROUP BY 1),
       |sint AS (
       |  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS inter_samp
       |  FROM samp a JOIN samp b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2),
       |eint AS (
       |  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS inter_exact
       |  FROM tokD a JOIN tokD b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2),
       |base AS (
       |  SELECT x.source AS src_a, y.source AS src_b,
       |         x.n AS n_exact_a, y.n AS n_exact_b,
       |         COALESCE(ei.inter_exact, 0) AS inter_exact,
       |         COALESCE(sx.n, 0) AS n_samp_a, COALESCE(sy.n, 0) AS n_samp_b,
       |         COALESCE(si.inter_samp, 0) AS inter_samp
       |  FROM esz x JOIN esz y ON x.source < y.source
       |  LEFT JOIN ssz sx ON sx.source = x.source
       |  LEFT JOIN ssz sy ON sy.source = y.source
       |  LEFT JOIN sint si ON si.src_a = x.source AND si.src_b = y.source
       |  LEFT JOIN eint ei ON ei.src_a = x.source AND ei.src_b = y.source)
       |SELECT *,
       |       (1000 * inter_exact) // (n_exact_a + n_exact_b - inter_exact)
       |         AS exact_jacc_permille,
       |       CASE WHEN n_samp_a + n_samp_b - inter_samp = 0 THEN 0
       |            ELSE (1000 * inter_samp) // (n_samp_a + n_samp_b - inter_samp)
       |       END AS theta_jacc_permille,
       |       abs(CASE WHEN n_samp_a + n_samp_b - inter_samp = 0 THEN 0
       |                ELSE (1000 * inter_samp) // (n_samp_a + n_samp_b - inter_samp) END
       |           - (1000 * inter_exact) // (n_exact_a + n_exact_b - inter_exact))
       |         AS err_permille
       |FROM base""".stripMargin

  // ─── s04 hash-sampled quantiles ─────────────────────────────────────

  /** Sample modulus: keep orders whose 16-bit md5 gate ≡ 0 (mod 64) —
    * a deterministic ~1.6% row sample (the t05 gate discipline, salted
    * "q" so it is independent of every other sampling gate in the
    * engine).
    */
  private val QSampleMod = 64

  /** s04: per-priority order-value quantiles — estimated from a
    * deterministic hash sample vs the exact pass it replaces. Completes
    * the sketch family's coverage (distinct → s01, frequency → s02,
    * overlap → s03, QUANTILES → s04): at 100 TB the exact percentile
    * buffers every group value in its final merge task (the q26 OOM
    * shape; Spark's `approx_percentile` is the in-engine fix but its
    * sketch is not oracle-replayable), while the hash sample bounds
    * the buffered set to 1/64 of the group scan-side — the predicate
    * pushes to the parquet scan, and the SAME rows are sampled on any
    * cluster, any partitioning, any engine.
    *
    * Determinism: the gate is the shared md5 arithmetic; both
    * percentile legs ride Spark `percentile` == DuckDB `quantile_cont`
    * (the q26-proven bit-match); the error column is floor() of a fixed
    * IEEE chain.
    */
  def sampledQuantiles(spark: SparkSession, dir: String): DataFrame =
    sampledQuantilesOf(Tables.orders(spark, dir))

  private[graft] def sampledQuantilesOf(orders: DataFrame): DataFrame = {
    val o = orders.select(col("o_orderpriority").as("priority"),
      col("o_totalprice"),
      (conv(substring(md5(concat_ws("_", col("o_orderkey"), lit("q"))), 1, 4), 16, 10)
        .cast("long") % QSampleMod === 0).as("in_sample"))
    def legs(pfx: String): Seq[Column] = Seq(
      expr("percentile(o_totalprice, 0.5)").as(s"p50_$pfx"),
      expr("percentile(o_totalprice, 0.9)").as(s"p90_$pfx"),
      expr("percentile(o_totalprice, 0.99)").as(s"p99_$pfx"))
    val exact = o.groupBy(col("priority"))
      .agg(count(lit(1)).as("n"), legs("exact"): _*)
    val samp = o.filter(col("in_sample")).groupBy(col("priority"))
      .agg(count(lit(1)).as("n_samp"), legs("samp"): _*)
    exact.join(samp, Seq("priority"))
      .withColumn("sample_permille", expr("(1000 * n_samp) div n"))
      .withColumn("p90_err_permille",
        floor(abs(col("p90_samp") - col("p90_exact")) * 1000.0 / col("p90_exact")))
  }

  private def quantilesSql: String =
    s"""WITH o AS (
       |  SELECT o_orderpriority AS priority, o_totalprice,
       |         CAST(('0x' || substr(md5(concat_ws('_', o_orderkey, 'q')), 1, 4)) AS BIGINT)
       |           % $QSampleMod = 0 AS in_sample
       |  FROM orders),
       |ex AS (
       |  SELECT priority, CAST(count(*) AS BIGINT) AS n,
       |         quantile_cont(o_totalprice, 0.5) AS p50_exact,
       |         quantile_cont(o_totalprice, 0.9) AS p90_exact,
       |         quantile_cont(o_totalprice, 0.99) AS p99_exact
       |  FROM o GROUP BY 1),
       |sa AS (
       |  SELECT priority, CAST(count(*) AS BIGINT) AS n_samp,
       |         quantile_cont(o_totalprice, 0.5) AS p50_samp,
       |         quantile_cont(o_totalprice, 0.9) AS p90_samp,
       |         quantile_cont(o_totalprice, 0.99) AS p99_samp
       |  FROM o WHERE in_sample GROUP BY 1)
       |SELECT e.priority, e.n, e.p50_exact, e.p90_exact, e.p99_exact,
       |       s.n_samp, s.p50_samp, s.p90_samp, s.p99_samp,
       |       (1000 * s.n_samp) // e.n AS sample_permille,
       |       CAST(floor(abs(s.p90_samp - e.p90_exact) * 1000.0 / e.p90_exact) AS BIGINT)
       |         AS p90_err_permille
       |FROM ex e JOIN sa s USING (priority)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s01_hll_distinct" -> hllDistinct,
    "s02_cms_heavy_hitters" -> cmsHeavyHitters,
    "s03_theta_overlap" -> thetaOverlap,
    "s04_sampled_quantiles" -> sampledQuantiles,
    "s05_hll_union" -> hllUnion)

  val oracle: Map[String, String] = Map(
    "s01_hll_distinct" -> hllSql,
    "s02_cms_heavy_hitters" -> cmsSql,
    "s03_theta_overlap" -> thetaSql,
    "s04_sampled_quantiles" -> quantilesSql,
    "s05_hll_union" -> hllUnionSql)
}
