package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Bench {

  /** One query's repeated timings: successful wall times + error
    * messages from failed reps. A failed rep NEVER contributes a
    * normal-looking number — the silent `catch → -1` of earlier rounds
    * let a broken query hide as a fast time.
    */
  private[graft] case class Timing(ok: Seq[Double], errors: Seq[String]) {
    def median: Double =
      if (ok.isEmpty) -1.0
      else ok.sorted.apply((ok.size - 1) / 2)
    def max: Double = if (ok.isEmpty) -1.0 else ok.max
    /** Min over successful reps — the GATE statistic since round 7:
      * on a multi-tenant box the minimum is the best available
      * estimate of the code's intrinsic cost (contention only ever
      * adds time), so a contended run can inflate medians yet cannot
      * make a healthy query breach a min-based gate. Round 6 proved
      * median-of-3 insufficient: frozen x03 read 38× baseline when
      * all three reps landed in a contended window.
      */
    def min: Double = if (ok.isEmpty) -1.0 else ok.min
  }

  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  // ─── calibration probes ────────────────────────────────────────────
  /** Frozen synthetic workloads (data-independent, deterministic,
    * parallelism pinned at 32 to match the official local[32] mode)
    * whose CALM-BOX reference times are recorded below. Each pass
    * re-times the set; `calib` = median over probes of
    * (probe median / reference) — a same-invocation measure of machine
    * tenancy. The round-4 lesson: the official BENCH_r04 run recorded
    * q13 at 5.17s (14× its baseline median) at loadavg 3.35, while the
    * SAME frozen code on a calm box reads 0.46s — without an in-run
    * yardstick the 2× gate cannot tell environment from regression.
    * Calibration is ADVISORY, not an automatic divisor: gate on the
    * RAW medians first, and use the probe ratios (per-class detail in
    * BENCH_FULL.json, see [[queryClass]]) to adjudicate whether a
    * breach is uniform-tenancy inflation or a genuine regression — a
    * self-measured reference set must explain numbers, never shrink
    * them.
    *
    * References recorded on this container at loadavg < 1 (see
    * BASELINE.md "Calibration probes"); re-record them if the official
    * harness hardware ever changes.
    */
  private[graft] val probeRefs: Seq[(String, Double)] = Seq(
    "p_cpu_sha" -> 0.31,
    "p_shuffle_agg" -> 1.34,
    "p_join_smj" -> 1.22,
    "p_window_rank" -> 1.19)

  /** Probe class per query — which of the four calibration probes a
    * query's DOMINANT cost resembles (per-row expression work, a wide
    * hash-exchange aggregation, a shuffled equi-join, or a per-key
    * ordered window). The round-5 lesson: one scalar `calib` (the
    * MEDIAN across the four probe ratios) under-corrects whichever
    * class tenancy hit hardest — that run's CPU probe read 1.76× while
    * shuffle/join/window read ~1.0×, so calib=1.014 "corrected" nothing
    * for the CPU-bound queries that flagged (e03 at 4.6×). BENCH_FULL
    * now records each query's class and its class-calibrated median
    * (median ÷ its OWN class's probe ratio) so the per-query gate can
    * compare like against like. Queries not listed (a new entry added
    * without a class) fall back to the scalar median ratio.
    */
  private[graft] val queryClass: Map[String, String] = {
    val cpu = Seq("d01_exact_dedup", "d05_embedding_knn", "e03_json_props",
      "q09_dim_date", "q10_dim_customer", "q57_dim_customer_hashed",
      "q15_clean_lineitem",
      "q19_multi_source_conform", "q24_ivf_ann", "q31_dim_product",
      "q48_ivf_adaptive",
      "q33_corpus_stats", "t01_lang_id", "t02_quality_score",
      "t03_token_count", "t04_fingerprint", "t14_pii_scrub", "t15_hash_split",
      "t21_chunk_documents",
      // t26/t27: the regex feature scan dominates; the model math is a
      // 9-cell agg + a broadcast 1-row solve
      "t26_quality_regression", "t27_quality_model_apply",
      // t28/t29: the same regex/bigram feature scan dominates; the 560
      // sums are one map-side-combined agg and the Cholesky is driver
      "t28_quality_ridge", "t29_ridge_apply", "t30_ridge_thresholds",
      // the sketch family: md5-scan-dominated, fixed-size aggregation
      // state (the shuffles are ≤ sources×256 / 4096-cell constants)
      "s01_hll_distinct", "s02_cms_heavy_hitters", "s05_hll_union",
      "e13_rolling_active_hll",
      // stream wrappers whose per-batch work is a per-row scan (ridge
      // feature regexes / gate regexes / token md5s); the harness's
      // staging writes are per-row too
      "stream_quality", "stream_dedup", "stream_sketch",
      // the multimodal plumbing row: per-row md5 synthesis + decode
      // dominates; the banded join underneath is candidate-bounded
      "multimodal",
      "x05_ivf_compute")
    val shuffle = Seq("d04_simhash", "d09_source_overlap", "d28_substring_dedup",
      "d34_boilerplate_spans",
      "t24_bpe_train",
      "d10_effective_mixture", "d14_curation_funnel", "d18_bloom_contamination",
      "d32_snapshot_drift",
      "d20_simhash_dedup", "d21_route_union",
      // stream wrappers dominated by stateful-shuffle window/dedup aggs
      "stream_events", "stream_actives",
      "e02_event_tumbling", "q01_monthly_sales_trend", "q02_category_performance",
      "q03_customer_segmentation", "q05_weekend_weekday", "q06_top_customers",
      "q07_product_catalog", "q14_mart_category_analysis", "q16_day_month_heatmap",
      "q18_priority_status_matrix", "q20_pricing_summary", "q21_region_revenue",
      "q22_validation_gates", "q25_region_rollup", "q27_segment_existence",
      "q29_price_size_corr", "q36_price_rating_corr", "q37_api_category_list",
      "q38_amount_histogram", "q39_kpi_tiles", "q40_filtered_summary",
      "q41_monthly_category_trend", "q42_heavy_hitters", "q43_category_trendline",
      "q58_segment_priority_cube", "q64_discount_effectiveness",
      "q65_seasonal_index", "q66_churn_status",
      "q45_ivf_cell_stats", "q52_rfm_segmentation", "q53_basket_affinity",
      "q54_supplier_scorecard",
      "t05_hash_sample", "t06_repetition_stats", "t16_dsir_weights",
      "t18_dsir_per_source",
      "t07_quality_prune", "t08_token_budget_sample", "t10_vocab_coverage",
      "t11_mixture_resample", "t13_boilerplate", "t20_alpha_mixture",
      // vocab-distinct / key-count shuffles dominate these
      "s03_theta_overlap", "s04_sampled_quantiles", "e11_user_skew")
    val join = Seq("d02_ngram_jaccard", "d03_minhash_lsh", "d06_embedding_lsh",
      "d29_substring_scrub", "d30_span_contamination", "q59_copurchase_pagerank",
      "q60_copurchase_triangles", "q63_copurchase_components", "t22_bigram_lm_score",
      "d31_snapshot_diff", "q61_purchase_hits", "q62_cohort_ltv",
      "t25_bpe_apply",
      "d24_lsh_calibration", "d25_training_corpus", "d26_band_retune",
      "d27_retuned_calibration",
      "d07_dedup_pipeline", "d08_contamination", "d11_embedding_neardup",
      "d12_dup_clusters", "d13_ngram_contamination", "d16_containment_dedup",
      "d17_simhash_pairs", "d19_shard_dedup", "d22_semantic_dedup",
      "d23_semantic_contamination", "d33_hot_shingle_dedup",
      "e04_funnel", "e05_cohort_retention", "e10_click_attribution",
      "q04_segment_category_analysis", "q11_scd2_merge", "q12_fact_sales",
      "q13_mart_sales_performance", "q23_asof_join", "q30_order_reconciliation",
      "q32_ivf_search", "q67_chunk_retrieval", "q68_pq_rerank",
      "q34_api_catalog_ratings", "q35_ivf_recall",
      "q47_incremental_fact", "q49_ivf_pq", "q50_pq_recall", "q51_ivf_append",
      "q55_lead_time",
      // stream wrappers dominated by joins: the fact grain join / the
      // per-batch band-bucket probe / the SCD2 full-outer merge; the
      // multimodal row's banded self-join likewise
      "stream_facts", "stream_curation", "stream_scd2",
      "multimodal_neardup",
      // d35 is d16's plan through the sliced writer; r_sql_parity runs
      // the eight warehouse joins twice (SQL + twin)
      "d35_sliced_dedup", "r_sql_parity",
      "x01_skew_plain_join", "x02_skew_salted_join", "x03_shuffle_smj",
      "x04_bucketed_smj")
    val window = Seq("d15_quality_dedup", "e01_sessionize", "e12_burst_census",
      // per-key ordered state walk (the fMGWS ring) resembles the
      // window probe's per-key ordered scan most closely
      "stream_anomalies",
      "t12_pack_sequences",
      "t23_shuffle_shard",
      "e06_rolling_active_users", "e07_event_anomalies", "e08_session_transitions",
      "e09_session_paths", "q56_purchase_intervals", "t17_dsir_select",
      "t19_dsir_select_per_source",
      "q08_quarterly_yoy",
      "q17_revenue_rank_window", "q26_segment_percentiles", "q28_moving_window",
      "q44_revenue_deciles", "q46_customer_growth", "t09_tfidf_keywords")
    (cpu.map(_ -> "p_cpu_sha") ++ shuffle.map(_ -> "p_shuffle_agg") ++
      join.map(_ -> "p_join_smj") ++ window.map(_ -> "p_window_rank")).toMap
  }

  /** Bench-only entries — timed here but absent from
    * SparkEntry.queries (the skew/bucket A/Bs and the write-free IVF
    * build). BenchTimingSpec derives the complete bench surface from
    * THIS set plus SparkEntry.queries, so an entry added below without
    * updating this set (or [[queryClass]]) fails tests instead of
    * silently falling back to the scalar calibration ratio.
    */
  private[graft] val extraNames: Set[String] = Set(
    "x01_skew_plain_join", "x02_skew_salted_join",
    "x03_shuffle_smj", "x04_bucketed_smj", "x05_ivf_compute")

  /** Compact-line display keys: the id prefix before the first '_'
    * ("q01", "d03") where unique; a colliding family (the stream_*
    * rows all share "stream") extends to prefix + 2 chars of the next
    * token ("stream_qu"); a residual collision falls back to the full
    * name rather than merging two queries. BenchTimingSpec pins the
    * mapping injective so the ~2 KB stdout tail window stays safe.
    */
  private[graft] def shortKeys(names: Seq[String]): Map[String, String] = {
    val byPrefix = names.groupBy(_.takeWhile(_ != '_'))
    def two(k: String): String = {
      val parts = k.split("_", 3)
      if (parts.length < 2) k else parts(0) + "_" + parts(1).take(2)
    }
    val byTwo = names.groupBy(two)
    names.map { k =>
      val p = k.takeWhile(_ != '_')
      k -> (if (byPrefix(p).size == 1) p
            else if (byTwo(two(k)).size == 1) two(k)
            else k)
    }.toMap
  }

  private def probeBody(spark: SparkSession, name: String): Unit = name match {
    case "p_cpu_sha" =>
      // raw per-row CPU: hash a derived string 3M times
      spark.range(0L, 3000000L, 1L, 32)
        .select(sum(length(sha2(concat_ws("_", col("id"), lit("cal")), 256))))
        .collect()
    case "p_shuffle_agg" =>
      // one wide hash-exchange + map-side-combining aggregation
      spark.range(0L, 8000000L, 1L, 32)
        .groupBy(pmod(col("id"), lit(500000L)).as("k"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(col("c"))).collect()
    case "p_join_smj" =>
      // a 3M × 3M equi-join too big to broadcast: sort + merge both sides
      val a = spark.range(0L, 3000000L, 1L, 32)
        .select(col("id"), (col("id") % 97).as("va"))
      val b = spark.range(0L, 3000000L, 1L, 32)
        .select(col("id"), (col("id") % 101).as("vb"))
      a.join(b, Seq("id")).agg(sum(col("va") * col("vb"))).collect()
    case "p_window_rank" =>
      // per-key ordered window over 40 rows/key × 100k keys
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("id").desc)
      spark.range(0L, 4000000L, 1L, 32)
        .select(col("id"), pmod(col("id"), lit(100000L)).as("k"))
        .withColumn("rn", row_number().over(w))
        .agg(sum(col("rn"))).collect()
  }

  /** Usage: `runMain graft.Bench [name...]`. With no args this is the
    * official run: every query row, the x01–x05 A/B rows, and the
    * BENCH_FULL.json record. Names restrict the query rows and the
    * x01–x05 rows to the ones listed, for re-timing a changed plan
    * without a full pass; such a run prints the same stdout line but
    * never writes BENCH_FULL.json, so a dev timing cannot overwrite
    * the official record.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val only = args.toSet
    def wanted(name: String): Boolean = only.isEmpty || only(name)
    val spark = GraftSession(s"local[$cpus]", cpus)
    val load0 = loadAvg()
    GraftSession.warmUp(spark, sfDir)

    def timed(body: => Unit): Either[String, Double] = {
      val t0 = System.nanoTime()
      try { body; Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      }
    }

    // one A/B row if the name filter keeps it, evaluated in place so the
    // kept rows interleave exactly as in a full run
    def row(name: String)(body: => Either[String, Double]): Seq[(String, Either[String, Double])] =
      if (wanted(name)) Seq(name -> body) else Nil

    def toTimings(runs: Seq[(String, Either[String, Double])]): Map[String, Timing] =
      runs.groupBy(_._1).map { case (name, rs) =>
        name -> Timing(rs.collect { case (_, Right(t)) => t },
                       rs.collect { case (_, Left(e)) => e })
      }

    // ─── headline queries + calibration: `reps` INTERLEAVED passes ─────
    // Per-query median over interleaved passes, so a transient machine-
    // load spike inflates ONE rep of many queries (medians unaffected)
    // instead of every rep of a few — one contended window can no longer
    // set the official number, which is how BENCH_r03 read 3× baseline
    // on untouched queries. The calibration probe set runs once per
    // pass (same interleaving) so `calib` reflects the same tenancy the
    // query numbers experienced.
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(wanted)
    val probeRuns = scala.collection.mutable.ArrayBuffer.empty[(String, Either[String, Double])]
    val results: Map[String, Timing] = if (names.isEmpty) Map.empty
    else {
      val runs = (1 to reps).flatMap { _ =>
        probeRefs.foreach { case (pname, _) =>
          probeRuns += pname -> timed(probeBody(spark, pname))
        }
        names.map { name =>
          val r = timed(SparkEntry.queries(name)(spark, sfDir).count())
          // operators may persist() intermediates; release before the
          // next timed query so no entry benefits from or pays for
          // another's cache. Full release, not just clearCache: the
          // iterative rows (q61/q63) leave localCheckpoint RDD blocks
          // the CacheManager never tracks, and letting those ride until
          // some later GC made block-heavy predecessors inflate their
          // alphabetical successors — the d34/q63/t28/e13
          // interleaved-flag pattern three rounds running (round-13
          // verdict item 3).
          GraftSession.releaseQueryCaches(spark)
          name -> r
        }
      }
      toTimings(runs)
    }
    val probeTimings: Map[String, Timing] = toTimings(probeRuns.toSeq)
    // median-of-ratios: robust to one probe hitting a pathological
    // stall. TRUE median (even-sized lists average the middle pair) —
    // the lower-middle shortcut would systematically understate tenancy
    // with the fixed 4-probe set (ratios 1.0,1.0,2.5,2.6 would read 1.0)
    val calib: Double = {
      val ratios = probeRefs.flatMap { case (n, ref) =>
        probeTimings.get(n).map(_.median).filter(_ > 0).map(_ / ref)
      }.sorted
      if (ratios.isEmpty) -1.0
      else if (ratios.size % 2 == 1) ratios(ratios.size / 2)
      else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2.0
    }

    // ─── skew A/B: plain vs salted sort-merge join on a hot key ────────
    // 90% of lineitem lands on one join key; AQE skew-split and
    // broadcast are disabled so the two entries isolate what manual
    // salting (operators.Skew) buys when neither rescue applies.
    val skewResults: Seq[(String, Timing)] =
      if (!Seq("x01_skew_plain_join", "x02_skew_salted_join").exists(wanted)) Nil else {
      // ×5 row amplification so the hot key's single join task is the
      // measured cost (at sf0.1 the raw table's hot slice is small
      // enough that fixed per-query overhead would drown the signal)
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val large = li.select(col("l_orderkey"), col("l_extendedprice"))
        .withColumn("rep", explode(sequence(lit(1), lit(5))))
        .select(
          when(col("l_orderkey") % 100 < 90, 0L)
            .otherwise(col("l_orderkey") % 1000L).as("k"),
          (col("l_orderkey") * 5 + col("rep")).as("row_id"),
          col("l_extendedprice"))
      val small = spark.range(0, 1000)
        .select(col("id").as("k"), (col("id") * 7).as("attr"))
      def run(joined: => DataFrame): Either[String, Double] = timed {
        // per-row digest in the join stage: the hot task pays it 10×over
        // under skew, which is exactly what salting redistributes
        joined.agg(sum(length(sha2(
          concat_ws("_", col("row_id"), col("attr"), col("l_extendedprice")),
          512)))).collect()
      }
      val saved = (spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      try {
        val runs = (1 to reps).flatMap { _ =>
          row("x01_skew_plain_join")(run(large.join(small, Seq("k")))) ++
            row("x02_skew_salted_join")(run(graft.operators.Skew.saltedJoin(
              large, small, "k", col("row_id"), saltBuckets = cpus)))
        }
        toTimings(runs).toSeq
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved._1)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", saved._2)
      }
    }
    // ─── bucket A/B: shuffled vs co-located bucketed sort-merge join ───
    // The payoff of pre-bucketing fact tables on their join key: the
    // bucketed pair joins with ZERO Exchange and ZERO Sort (SkewBucketSpec
    // asserts the plan); x03 is the same join + per-row digest work from
    // plain parquet, paying shuffle + sort on both sides. The one-time
    // bucketed write is untimed setup — it amortizes across every
    // downstream co-located join, the same build-once-use-many contract
    // as the IVF index.
    val bucketResults: Seq[(String, Timing)] =
      if (!Seq("x03_shuffle_smj", "x04_bucketed_smj").exists(wanted)) Nil else {
      val wh = java.nio.file.Files.createTempDirectory("graft_bench_bucket").toString
      spark.sql("DROP TABLE IF EXISTS bench_b_orders")
      spark.sql("DROP TABLE IF EXISTS bench_b_lineitem")
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_totalprice"))
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_linenumber"))
      o.write.option("path", s"$wh/o")
        .bucketBy(cpus, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("bench_b_orders")
      li.write.option("path", s"$wh/li")
        .bucketBy(cpus, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("bench_b_lineitem")
      def run(l: DataFrame, r: DataFrame): Either[String, Double] = timed {
        l.join(r, col("l_orderkey") === col("o_orderkey"))
          .agg(sum(length(sha2(
            concat_ws("_", col("l_linenumber"), col("o_totalprice"), col("l_extendedprice")),
            512)))).collect()
      }
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val runs = (1 to reps).flatMap { _ =>
          row("x03_shuffle_smj")(run(li, o)) ++
            row("x04_bucketed_smj")(run(
              spark.table("bench_b_lineitem"), spark.table("bench_b_orders")))
        }
        toTimings(runs).toSeq
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
    // ─── x05: IVF index build WITHOUT artifact writes ──────────────────
    // q24's timed entry publishes codebook + assignment (its contract);
    // this entry times the pure k-means computation so the index-BUILD
    // number is comparable round-over-round independent of write cost.
    val ivfCompute: Seq[(String, Timing)] = if (!wanted("x05_ivf_compute")) Nil else {
      val runs = (1 to reps).map { _ =>
        val r = timed(graft.operators.Similarity.ivfAssign(spark, sfDir).count())
        GraftSession.releaseQueryCaches(spark)
        "x05_ivf_compute" -> r
      }
      toTimings(runs).toSeq
    }

    val load1 = loadAvg()
    val all = results.toSeq ++ skewResults ++ bucketResults ++ ivfCompute
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    // comma-decimal locale would render every value as invalid JSON
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jmap(entries: Seq[(String, Double)]): String =
      entries.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    def jesc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
                  case c if c < ' ' => " "; case c => c.toString }
    val errs = all.filter(_._2.errors.nonEmpty).sortBy(_._1)
      .map { case (k, t) => s"\"" + k + "\":\"" + jesc(t.errors.head) + "\"" }
      .mkString("{", ",", "}")
    val total = results.values.map(_.median).filter(_ >= 0).sum
    val totalMin = results.values.map(_.min).filter(_ >= 0).sum
    val totalCal = if (calib > 0) total / calib else -1.0

    // ─── FULL record → file; ONE compact line → stdout ─────────────────
    // The harness keeps only the LAST ~2 KB of stdout (BENCH_r06's tail
    // field: 3-decimal full-name medians lost their head — the entire
    // d/e block, exactly the queries that breached that round). Full-
    // name per-query maps are ≥2.4 KB at 93 entries no matter the
    // precision, so the complete record (medians, mins, per-rep max,
    // classes, errors, calibration detail, full names) lives in
    // BENCH_FULL.json at the repo root, and stdout carries a compact
    // line: queries keyed by their unique id prefix ("q01", "d03" —
    // BenchTimingSpec pins uniqueness), values = MIN-of-reps at 2
    // decimals (the gate statistic — see Timing.min). At the full
    // surface even THIS line outgrows the 2 KB window, so its field
    // order puts the summary in the guaranteed tail (see the println).
    val calDetail = probeRefs.map { case (n, ref) =>
      val m = probeTimings.get(n).map(_.median).getOrElse(-1.0)
      s"\"$n\":{\"median\":${fmt(m)},\"ref\":$ref,\"ratio\":${fmt(if (m > 0) m / ref else -1.0)}}"
    }.mkString("{", ",", "}")
    // per-class tenancy ratios + class-calibrated per-query medians:
    // each query divides by the ratio of the probe CLASS it resembles
    // (falling back to the scalar median for unclassified names), so the
    // gate compares CPU-bound queries against the CPU probe's inflation
    // instead of a cross-class median that a lopsided tenancy profile
    // renders meaningless
    val ratioByProbe: Map[String, Double] = probeRefs.map { case (n, ref) =>
      n -> probeTimings.get(n).map(_.median).filter(_ > 0).map(_ / ref).getOrElse(-1.0)
    }.toMap
    val classLabel = Map("p_cpu_sha" -> "cpu", "p_shuffle_agg" -> "shuffle",
      "p_join_smj" -> "join", "p_window_rank" -> "window")
    val calibByClass = probeRefs.map { case (n, _) =>
      s"\"${classLabel(n)}\":${fmt(ratioByProbe(n))}"
    }.mkString("{", ",", "}")
    val queryClassJson = all.map { case (k, _) =>
      s"\"$k\":\"${queryClass.get(k).map(classLabel).getOrElse("unclassified")}\""
    }.toSeq.sorted.mkString("{", ",", "}")
    val classCalibrated = jmap(all.map { case (k, t) =>
      val r = queryClass.get(k).map(ratioByProbe).filter(_ > 0).getOrElse(calib)
      k -> (if (t.median >= 0 && r > 0) t.median / r else -1.0)
    })
    val fullJson =
      s"""{"metric":"total","value":$total,"total_min":${fmt(totalMin)},"value_calibrated":${fmt(totalCal)},"calib":${fmt(calib)},"calib_by_class":$calibByClass,"unit":"sec","queries":${jmap(all.map { case (k, t) => k -> t.median })},"query_min":${jmap(all.map { case (k, t) => k -> t.min })},"queries_class_calibrated":$classCalibrated,"query_class":$queryClassJson,"query_max":${jmap(all.map { case (k, t) => k -> t.max })},"calibration":$calDetail,"errors":$errs,"reps":$reps,"load_before":$load0,"load_after":$load1,"sf":"$sfDir"}"""
    // the official record comes only from an unfiltered run: a
    // name-filtered dev timing must never overwrite it
    if (only.isEmpty)
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_FULL.json"), fullJson + "\n")
    val shortOf = shortKeys(all.map(_._1))
    def shortKey(k: String): String = shortOf(k)
    def fmt2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def jmapMin(entries: Seq[(String, Timing)]): String =
      entries.map { case (k, t) => shortKey(k) -> t.min }.sortBy(_._1)
        .map { case (k, v) => s"\"" + k + "\":" + fmt2(v) }
        .mkString("{", ",", "}")
    val errsShort = all.filter(_._2.errors.nonEmpty)
      .map { case (k, t) => shortKey(k) -> t.errors.head }.sortBy(_._1)
      .map { case (k, e) => s"\"" + k + "\":\"" + jesc(e.take(80)) + "\"" }
      .mkString("{", ",", "}")
    // Field ORDER is load-bearing: the harness captures only the LAST
    // ~2000 stdout chars, and at 168 rows the line exceeds that no
    // matter how keys compress — so the queries map goes FIRST (its
    // head entries are what truncation eats; every one also lives in
    // BENCH_FULL.json) and the summary fields (errors, calibration,
    // totals) come LAST, inside the guaranteed-captured tail. The r13
    // record measured the old order losing exactly those summary
    // fields. calib_by_class lives in BENCH_FULL only.
    println(s"""{"metric":"total","unit":"sec","sf":"$sfDir","keys":"min-of-reps by id prefix; full detail in BENCH_FULL.json","queries":${jmapMin(all)},"errors":$errsShort,"reps":$reps,"load_before":$load0,"load_after":$load1,"calib":${fmt(calib)},"value_calibrated":${fmt(totalCal)},"total_min":${fmt(totalMin)},"value":${fmt(total)}}""")
    spark.stop()
  }
}
