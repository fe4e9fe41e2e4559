package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Money.{m2, out2}
import graft.sources.Tables

/** Batch event-stream operators: gap-based sessionization, tumbling
  * windows, JSON prop extraction. These are the batch equivalents of the
  * structured-streaming module (graft.streaming.EventsStream) so their
  * semantics can be oracle-checked; the streaming variants share the
  * same column logic.
  *
  * Scale: sessionization windows partition by user_id (bounded per-user
  * history); tumbling windows are plain hash aggregations. Second-level
  * epoch math (floor) keeps timestamp semantics engine-portable.
  */
object Events {

  private def epochS(c: org.apache.spark.sql.Column) = unix_timestamp(c)

  // ─── e01 gap-based sessionization (30-min inactivity gap) ────────────
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val withGap = e
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          epochS(col("ts")) - epochS(col("prev_ts")) > 1800, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withGap.groupBy(col("user_id"), col("session_seq"))
      .agg(
        epochS(min(col("ts"))).as("session_start_epoch"),
        epochS(max(col("ts"))).as("session_end_epoch"),
        count(lit(1)).as("n_events"),
        out2(sum(m2(col("value")))).as("total_value"),
        countDistinct(col("event_type")).as("distinct_event_types"))
      .withColumn("duration_sec", col("session_end_epoch") - col("session_start_epoch"))
  }

  // ─── e02 tumbling-window aggregation (hourly) ────────────────────────
  def tumblingWindows(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(
        date_format(col("ts"), "yyyy-MM-dd HH").as("hour_bucket"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        out2(sum(m2(col("value")))).as("total_value"),
        // rounded-sum / count, NOT round(avg): small groups hit exact
        // half-cent midpoints where engine rounding modes disagree
        (out2(sum(m2(col("value")))) / count(lit(1))).as("avg_value"),
        countDistinct(col("user_id")).as("unique_users"))
  }

  // ─── e03 JSON prop extraction ────────────────────────────────────────
  /** Single-field extraction uses get_json_object: the query reads
    * exactly one property, so the JSON is parsed once either way, and
    * get_json_object's streaming path-scan (no row-object allocation, no
    * PERMISSIVE corrupt-record machinery) benched 3x faster than the
    * round-2 from_json+schema form at sf0.1. from_json earns its keep
    * only when a query extracts ≥2 properties from the same blob.
    */
  def jsonProps(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"), (col("k") % 10).as("k_bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        (out2(sum(m2(col("value")))) / count(lit(1))).as("avg_value"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
  }

  // ─── e04 conversion funnel (signup → click → purchase) ───────────────
  /** Ordered-sequence funnel: for each user the first signup, the first
    * click at-or-after it, and the first purchase at-or-after that
    * click; one row of funnel counts and raw conversion ratios.
    *
    * ONE shuffle on user_id: the three dependent stage timestamps are
    * chained partition-only window mins over the same hash distribution
    * (Spark stacks the Window execs on one exchange), and the per-user
    * collapse is a groupBy(user_id) that reuses that distribution — no
    * further exchange. Round 1 instead joined the raw events back to
    * per-user aggregates wrapped in broadcast(): an unbounded-cardinality
    * broadcast that would OOM the driver at 100 TB user counts.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val byUser = Window.partitionBy(col("user_id"))
    val staged = e
      .withColumn("signup_ts",
        min(when(col("event_type") === "signup", col("ts"))).over(byUser))
      .withColumn("click_ts",
        min(when(col("event_type") === "click" &&
          col("ts") >= col("signup_ts"), col("ts"))).over(byUser))
      .withColumn("purchase_ts",
        min(when(col("event_type") === "purchase" &&
          col("ts") >= col("click_ts"), col("ts"))).over(byUser))
    // stage columns are constant per user; max() collapses to one row per
    // user (and max over all-null stays null, preserving funnel dropout)
    val s3 = staged.groupBy(col("user_id"))
      .agg(
        max(col("signup_ts")).as("signup_ts"),
        max(col("click_ts")).as("click_ts"),
        max(col("purchase_ts")).as("purchase_ts"))
    s3.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("signup_ts").isNotNull, 1L).otherwise(0L)).as("n_signed_up"),
        sum(when(col("click_ts").isNotNull, 1L).otherwise(0L)).as("n_clicked_after"),
        sum(when(col("purchase_ts").isNotNull, 1L).otherwise(0L)).as("n_purchased_after"))
      .withColumn("click_conversion",
        col("n_clicked_after").cast("double") /
          when(col("n_signed_up") === 0, lit(null)).otherwise(col("n_signed_up")))
      .withColumn("purchase_conversion",
        col("n_purchased_after").cast("double") /
          when(col("n_clicked_after") === 0, lit(null)).otherwise(col("n_clicked_after")))
  }

  // ─── e05 weekly cohort retention ─────────────────────────────────────
  /** Classic cohort retention: users grouped by the ISO week of their
    * first event, and for each cohort the count (and share of the
    * cohort) still active N weeks later — the activation/churn matrix
    * behind every product-analytics dashboard.
    *
    * Scale: ONE exchange on user_id collects each user's distinct
    * active weeks (`collect_set` — bounded by weeks-in-corpus, dedup
    * happens map-side in the partial aggregate); the explode emits one
    * row per (user, active week), so the (cohort, offset) count needs
    * no countDistinct — per-user offsets are unique by construction.
    * The retention share is a window over the tiny post-aggregation
    * frame only (weeks × offsets rows), the q38 pattern. Offsets are
    * exact: both week starts are Mondays, so datediff is always a
    * multiple of 7.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
      .groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_week"), collect_set(col("wk")).as("wks"))
    val agg = perUser
      .select(col("user_id"), col("cohort_week"), explode(col("wks")).as("wk"))
      .groupBy(col("cohort_week"),
        (datediff(col("wk"), col("cohort_week")) / lit(7)).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
    agg.withColumn("retention_pct",
      col("n_users").cast("double") /
        max(when(col("week_offset") === 0, col("n_users")))
          .over(Window.partitionBy(col("cohort_week"))))
  }

  // ─── e06 rolling active users (DAU / WAU / MAU) ──────────────────────
  /** The engagement headline triple: per active day, the distinct users
    * active that day (DAU), in the trailing 7 days (WAU), and in the
    * trailing 30 days (MAU), plus the DAU/MAU stickiness ratio. Early
    * days report partial trailing windows — the standard ramp-in shape.
    *
    * Scale: the corpus collapses to the DEDUPED (user, day) frame first
    * (one exchange, map-side combine), and each user-day then explodes
    * into the ≤30 report days it can influence — a bounded 30× blowup of
    * the small deduped frame, reduced per (report day, user) to a
    * min-offset and then counted conditionally (no countDistinct
    * Expand — see the in-line note). The tempting alternative
    * — a non-equi range join of days × user-days (`d BETWEEN r-29 AND
    * r`) — has no equi key, so it plans as a broadcast nested loop over
    * the full user-day frame per report day; the offset explode turns
    * the same window membership into a plain hash aggregation.
    */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val days = ud.select(col("d").as("activity_date")).distinct()
    val contrib = ud
      .select(col("user_id"), col("d"),
        explode(sequence(lit(0), lit(29))).as("off"))
      .select(col("user_id"), col("off"),
        date_add(col("d"), col("off")).as("activity_date"))
      .join(broadcast(days), Seq("activity_date"), "left_semi")
    // Round-12 form: reduce each (report day, user) to its MOST RECENT
    // activity distance first (min offset — a hash aggregation with
    // map-side combine), then the window memberships are plain
    // conditional COUNTS: min_off = 0 ⟺ active that day, ≤ 6 ⟺ within
    // the trailing week, present ⟺ within the trailing month. The
    // round-11 form ran three countDistincts over the contrib frame —
    // an Expand that TRIPLED the shuffled rows and carried
    // distinct-user state per (day, window); this ships each
    // (day, user) once and the distinct work IS the pre-aggregation.
    // Same exact integers, same oracle. Honest measurement: sf10 warm
    // 6.62 s vs the old form's 6.9-9.0 — the contrib exchange itself
    // dominates, so the win is modest; kept for the strictly smaller
    // shuffled volume and the simpler (min, count) aggregation state.
    val perUser = contrib.groupBy(col("activity_date"), col("user_id"))
      .agg(min(col("off")).as("min_off"))
    perUser.groupBy(col("activity_date"))
      .agg(
        sum(when(col("min_off") === 0, 1L).otherwise(0L)).as("dau"),
        sum(when(col("min_off") <= 6, 1L).otherwise(0L)).as("wau"),
        count(lit(1)).as("mau"))
      .withColumn("dau_mau_ratio",
        col("dau").cast("double") / col("mau").cast("double"))
  }

  // ─── e13 rolling active users, HLL sketch tier ───────────────────────
  /** The e06 triple at 100 TB: DAU/WAU/MAU as HLL ESTIMATES from
    * per-day register sketches merged across the trailing windows by
    * bucket-wise max (s05's oracle-checked merge property). e06's exact
    * form keeps a per-user data term — the deduped (user, day) frame,
    * its 30× offset explode, and the 3× countDistinct expand all grow
    * with the user base (measured exponent 0.335, the largest GENUINE
    * work-growth exponent in BENCH_SCALE, no recovery at more
    * partitions) — so e06 stays the oracle-exact verification row and
    * THIS is the serving tier. Here the only user-sized term is the
    * register build: one map-side-combining aggregation straight off
    * the event scan (duplicates absorbed by max — no dedup exchange),
    * collapsing to ≤ days×256 rows; the 30× explode, window maxes and
    * harmonic sums all run on that day-sized register frame. Register
    * state also merges across shards/streams (the s05 contract), which
    * the exact countDistinct never can.
    *
    * Determinism: the s01 discipline end-to-end — integer registers
    * and harmonic sums, rank via bin-string length (no log2), shared
    * double literals, linear-counting via the embedded 257-entry
    * table — so DuckDB replays every estimate to the last ulp.
    */
  def rollingActiveHll(spark: SparkSession, dir: String): DataFrame =
    rollingActiveHllOf(Tables.events(spark, dir))

  private[graft] def rollingActiveHllOf(e: DataFrame): DataFrame = {
    val keyed = e.select(to_date(col("ts")).as("d"),
      Sketches.hash60(col("user_id").cast("string")).as("h"))
    val dayRegs = Sketches.registersOf(keyed, "d")
    val days = dayRegs.select(col("d").as("activity_date")).distinct()
    val contrib = dayRegs
      .select(col("d"), col("bucket"), col("reg"),
        explode(sequence(lit(0), lit(29))).as("off"))
      .select(col("bucket"), col("reg"), col("off"),
        date_add(col("d"), col("off")).as("activity_date"))
      .join(broadcast(days), Seq("activity_date"), "left_semi")
    val winRegs = contrib.groupBy(col("activity_date"), col("bucket")).agg(
      max(when(col("off") === 0, col("reg"))).as("reg_d"),
      max(when(col("off") <= 6, col("reg"))).as("reg_w"),
      max(col("reg")).as("reg_m"))
    def sPresent(r: String) = sum(when(col(r).isNotNull,
      expr(s"shiftleft(CAST(1 AS BIGINT), 53 - $r)")).otherwise(lit(0L)))
    winRegs.groupBy(col("activity_date")).agg(
        count(col("reg_d")).as("nz_d"), sPresent("reg_d").as("s_d"),
        count(col("reg_w")).as("nz_w"), sPresent("reg_w").as("s_w"),
        count(col("reg_m")).as("nz_m"), sPresent("reg_m").as("s_m"))
      .select(col("activity_date"),
        Sketches.hllEstimate(col("nz_d"), col("s_d")).as("dau_hll"),
        Sketches.hllEstimate(col("nz_w"), col("s_w")).as("wau_hll"),
        Sketches.hllEstimate(col("nz_m"), col("s_m")).as("mau_hll"))
      .withColumn("dau_mau_ratio", col("dau_hll") / col("mau_hll"))
  }

  // ─── e07 event-volume anomaly detection ──────────────────────────────
  /** Operational monitoring over the event stream: per (event_type,
    * day), the day's volume z-scored against the TRAILING 7 days — the
    * alert feed behind "did clicks fall off a cliff last night?". Only
    * days with a full 7-day history emit (the ramp-in has no stable
    * reference); zero-variance history falls back to exact inequality.
    *
    * Determinism: the built-in stddev is Welford-style (accumulation
    * order varies per engine/partitioning), so mean and variance come
    * from EXACT integer window sums (Σn, Σn²) via the explicit formula
    * (7·Σn² − (Σn)²)/49 — the q29 trick on a window instead of a group.
    * The divisions and `sqrt` are single correctly-rounded IEEE ops,
    * bit-identical everywhere.
    *
    * Densification: a day with ZERO events produces no row in the raw
    * daily aggregate, so a trailing window over observed rows would
    * silently span more than 7 calendar days across gaps — and a
    * complete outage day (exactly the "fell off a cliff" scenario this
    * feed exists for) would never emit at all. Each event_type's series
    * is therefore zero-filled over the calendar grid from its first
    * active day through the corpus-wide last day (the q46 grid pattern)
    * BEFORE the windows, making "trailing 7" mean 7 calendar days and
    * making outage days first-class anomaly rows.
    *
    * Scale: the corpus collapses to (event_type, day) counts first —
    * one map-side-combining aggregation; the grid explode, zero-fill
    * join, and every window run over that tiny daily frame partitioned
    * by event_type, so the fact table never flows through a window.
    */
  def eventAnomalies(spark: SparkSession, dir: String): DataFrame =
    anomaliesOverCalendar(
      Tables.events(spark, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("activity_date"))
        .agg(count(lit(1)).as("n_events")))

  /** Densify-then-window core over a (event_type, activity_date,
    * n_events) daily frame — separated so the gap semantics (an outage
    * day emits, trailing 7 means calendar days) are assertable on a
    * synthetic gapped frame in TextEventsSpec.
    */
  private[graft] def anomaliesOverCalendar(daily: DataFrame): DataFrame = {
    val gmax = daily.agg(max(col("activity_date")).as("dmax"))
    val grid = daily.groupBy(col("event_type"))
      .agg(min(col("activity_date")).as("d0"))
      .crossJoin(broadcast(gmax))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("dmax"))).as("activity_date"))
    val dense = grid.join(daily, Seq("event_type", "activity_date"), "left")
      .select(col("event_type"), col("activity_date"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
    val win = Window.partitionBy(col("event_type")).orderBy(col("activity_date"))
      .rowsBetween(-7, -1)
    val varNum = lit(7) * col("sumsq_prior") - col("sum_prior") * col("sum_prior")
    val mean7 = col("sum_prior") / 7.0
    val std7 = sqrt(varNum / 49.0)
    val z = (col("n_events") - mean7) / std7
    dense
      .withColumn("n_prior", count(col("n_events")).over(win))
      .withColumn("sum_prior", sum(col("n_events")).over(win))
      .withColumn("sumsq_prior", sum(col("n_events") * col("n_events")).over(win))
      .filter(col("n_prior") === 7)
      .select(
        col("event_type"), col("activity_date"), col("n_events"),
        mean7.as("mean7"), std7.as("std7"),
        when(varNum > 0, z).as("z_score"),
        when(varNum > 0, abs(z) > 2.0)
          .otherwise(col("n_events").cast("double") =!= mean7).as("is_anomaly"))
  }

  // ─── e08 in-session transition matrix ────────────────────────────────
  /** Markov transition census over sessionized events: for each ordered
    * in-session pair (A immediately followed by B), the transition count
    * and its share of everything that follows A — "after a click, what
    * happens next?". e04 fixes ONE path through the funnel; this table
    * surfaces all of them (the next-action model behind recommendation
    * heuristics and funnel-hypothesis mining).
    *
    * A successor belongs to the same session iff the NEXT row does not
    * open a new one — lead(new_session) == 0 — so e01's gap flag is the
    * only session machinery needed (no session ids materialize).
    *
    * Scale: lag/lead stack on e01's single user_id exchange (same
    * partitioning, same ordering); transitions collapse map-side into a
    * ≤|types|² frame, and the share window touches only that tiny
    * post-agg frame (the q38 rule).
    */
  def sessionTransitions(spark: SparkSession, dir: String): DataFrame =
    sessionTransitionsFrame(Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type")))

  /** Frame-level core of [[sessionTransitions]] — separated so the
    * session-boundary exclusion is assertable on a synthetic stream.
    */
  private[graft] def sessionTransitionsFrame(e: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flagged = e
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          epochS(col("ts")) - epochS(col("prev_ts")) > 1800, 1L).otherwise(0L))
      .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
      .withColumn("next_new", lead(col("new_session"), 1).over(byUser))
    val trans = flagged
      .filter(col("next_type").isNotNull && col("next_new") === 0L)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    trans
      .withColumn("from_total",
        sum(col("n_transitions")).over(Window.partitionBy(col("from_type"))))
      .withColumn("transition_share",
        col("n_transitions").cast("double") / col("from_total"))
  }

  // ─── e09 session path census ─────────────────────────────────────────
  /** Entry-path distribution: for every session (e01's 30-min gap
    * rule), the ordered first-≤3 event types joined as "a>b>c", then
    * the census over paths — how sessions BEGIN (n_sessions, mean
    * session length, share). e04 checks one fixed funnel; e08 gives
    * single-step transitions; this is the k-step opening-path view that
    * ranks real entry flows (the landing-path report of every product
    * analytics stack).
    *
    * Scale: ONE exchange and ONE sort. Every window function stacks on
    * e01's user_id window; the within-session row number needs no
    * (user, session) re-sort because it is arithmetic on that same
    * window — rn_sess = rn_user − rn_user@session_start + 1, where the
    * session start's rn carries forward as a running max. The session
    * collapse then groups on (user_id, session_seq), which the
    * window's existing hash(user_id) partitioning already satisfies
    * (no exchange; map-side combine), and the path census collapses
    * map-side onto ≤|types|³ keys. The share denominator is a global
    * window over that tiny census frame — safe ONLY there (the q38
    * rule), and cheaper than a broadcast re-aggregation, which would
    * re-run the whole fact pass for one number.
    */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame =
    sessionPathsFrame(Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type")))

  /** Frame-level core of [[sessionPaths]] — separated so path
    * construction across a session boundary is assertable on a
    * synthetic stream (the e08 pattern).
    */
  private[graft] def sessionPathsFrame(e: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, 0)
    val flagged = e
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          epochS(col("ts")) - epochS(col("prev_ts")) > 1800, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(run))
      .withColumn("rn_user", row_number().over(byUser))
      .withColumn("rn_sess",
        col("rn_user")
          - max(when(col("new_session") === 1L, col("rn_user"))).over(run) + 1L)
    val sessions = flagged
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        max(when(col("rn_sess") === 1L, col("event_type"))).as("t1"),
        max(when(col("rn_sess") === 2L, col("event_type"))).as("t2"),
        max(when(col("rn_sess") === 3L, col("event_type"))).as("t3"),
        count(lit(1)).as("n_events"))
    val census = sessions
      .groupBy(concat_ws(">", col("t1"), col("t2"), col("t3")).as("path"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("sum_events"))
    // share denominator via a window over the ≤|types|³ census — NOT a
    // broadcast re-aggregation, which would recompute the whole fact
    // pass a second time (the census frame is the one place a global
    // window is safe — the q38 tiny-post-agg rule)
    census
      .select(col("path"), col("n_sessions"),
        (col("sum_events").cast("double") / col("n_sessions")).as("avg_events"),
        (col("n_sessions").cast("double")
          / sum(col("n_sessions")).over(Window.partitionBy())).as("pct_sessions"))
  }

  // ─── e10 click→purchase attribution (bucketed interval join) ────────
  /** For every purchase event, the count of same-user clicks in the
    * closed hour before it ([p-3600s, p]) and the gap to the most
    * recent such click — last-touch attribution, the event pipeline's
    * canonical INTERVAL join (equi user key + time-range predicate;
    * cf. the reference's session-attribution reporting surface,
    * streamlit_app.py's conversion panels). The interval bounds match
    * [[graft.streaming.EventsStream.purchaseClickJoin]] exactly — that
    * watermarked stream-stream join is this operator's continuous twin
    * (pairs == these counts, asserted in StreamingSpec), and e10 gives
    * the pair semantics the SQL oracle the streaming spec can't.
    *
    * Scale: the naive plan — equi-join on user_id alone, then filter the
    * range — pairs every click with every purchase of that user across
    * ALL history (per-user quadratic, and a hot user is an unsplittable
    * key). Here both sides carry a compound (user_id, hour-bucket) key:
    * each click is exploded to exactly 2 buckets (its own and the next —
    * the only buckets whose purchases its 1-h window can reach, since
    * the window length equals the bucket width), purchases keep their
    * single bucket, and the equi-join on the compound key bounds every
    * join group to one hour of one user's clicks. 2× click duplication
    * buys per-key work independent of history length, and hot users
    * re-spread over time buckets (the x02 salt argument, but
    * data-driven). Measured at sf0.1 (one month of events): the naive
    * user-equi join examines 266,139 click×purchase pairs; the
    * compound key examines 779 — 341× fewer, only 2.1× the 371 true
    * matches — and the gap GROWS linearly with history length while
    * the bucketed count stays proportional to the true-match rate.
    * The exact range predicate then filters inside the
    * bounded group — lossless. A click at an exact hour boundary whose
    * window tail [c, c+3600] touches bucket b+1 only at its first
    * second still lands in both buckets — the explode is derived from
    * the window span, so no reachable purchase bucket is missed.
    */
  def clickAttribution(spark: SparkSession, dir: String): DataFrame =
    clickAttributionFrame(Tables.events(spark, dir))

  /** Frame-level core (any (event_id, user_id, ts, event_type) frame) —
    * the seam the property spec drives with generated event sets.
    */
  def clickAttributionFrame(e: DataFrame): DataFrame = {
    // the range predicate compares RAW timestamps (microsecond-exact,
    // matching the streaming twin); the floored epochs exist for the
    // bucket key and the reported gap only. The floored window contains
    // the exact window, so bucket reachability still holds.
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
      .withColumn("purchase_epoch", epochS(col("p_ts")))
      .withColumn("bucket", floor(col("purchase_epoch") / 3600L))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
      .withColumn("c_epoch", epochS(col("c_ts")))
      .withColumn("bucket",
        explode(array(floor(col("c_epoch") / 3600L),
          floor(col("c_epoch") / 3600L) + 1L)))
    purchases.join(clicks, Seq("user_id", "bucket"), "left")
      .withColumn("hit",
        col("c_ts").isNotNull &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
      .groupBy(col("event_id"), col("user_id"), col("purchase_epoch"))
      .agg(
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_clicks_1h"),
        min(when(col("hit"), col("purchase_epoch") - col("c_epoch")))
          .as("last_gap_sec"))
  }

  // ─── e11 per-user activity-skew census (the salting diagnostic) ─────
  /** One-row distribution census of events-per-user: key count, totals,
    * max/p50/p99, skew ratio (hottest key vs mean), and the exact Gini
    * coefficient in permille. Two audiences: the product side reads it
    * as the power-user concentration curve; the ENGINE side reads it as
    * the join/agg key-skew diagnostic — the number that decides whether
    * a user-keyed stage needs salting (the x01/x02 A/B's trigger) or an
    * AQE skew split before it ships at 100 TB.
    *
    * Scale: the per-key count is one map-side-combining hash agg.
    * The Gini does NOT sort the key frame: per-user counts are small
    * integers, so grouping BY COUNT VALUE collapses the user-sized
    * frame to ≤ #distinct-count-values rows (tens), and the rank sum
    * over ties is closed-form — Σ ranks of a tie group of size f after
    * cumF predecessors = cumF·f + f(f+1)/2, exact in BIGINT since the
    * Gini value is invariant to within-tie order (x constant inside a
    * tie). The one window rides that tiny value-census frame. The
    * p50/p99 percentile buffers the post-agg key frame in one merge
    * task (the q26 bound: Spark's `approx_percentile` would bound it,
    * but its sketch is not oracle-replayable).
    *
    * Determinism: all SUMS are BIGINTs (exact); every PRODUCT of those
    * sums (n·T, 1000·max·n, 2S−(n+1)T ~ n²·v) runs in double, because
    * at ~1e9 users × 1e12 events the products overflow Int64. The
    * determinism claim is cross-engine IEEE REPLAY: the double chain is
    * one fixed IEEE sequence both engines evaluate identically. (It is
    * NOT exact-integer equality — even with every product under 2^53, a
    * double quotient can round up across an integer boundary so its
    * floor differs from exact integer division; both engines floor the
    * same rounded quotient, so the hashes still match.)
    */
  def userSkew(spark: SparkSession, dir: String): DataFrame =
    userSkewOf(Tables.events(spark, dir))

  private[graft] def userSkewOf(e: DataFrame): DataFrame = {
    val kc = e.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val fr = kc.groupBy(col("cnt").as("v")).agg(count(lit(1)).as("f"))
    val byV = Window.orderBy(col("v"))
    val w = fr.withColumn("cumf",
      coalesce(sum(col("f")).over(byV.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val s = w.agg(
      sum(col("f")).as("n_keys"),
      sum(col("v") * col("f")).as("total_events"),
      sum(expr("v * (cumf * f + (f * (f + 1)) div 2)")).as("srank"))
    val pct = kc.agg(
      max(col("cnt")).as("max_cnt"),
      expr("percentile(cnt, 0.5)").as("p50_cnt"),
      expr("percentile(cnt, 0.99)").as("p99_cnt"))
    // All products run in double: n_keys·total_events (and 1000·max_cnt·n_keys)
    // exceed Int64 at the 100 TB design point (~1e9 users × 1e12 events), so the
    // BIGINT sums are cast BEFORE multiplying. The permille results are identical
    // while products stay < 2^53 and IEEE-replayable by the oracle beyond that.
    val nD = col("n_keys").cast("double")
    val tD = col("total_events").cast("double")
    s.crossJoin(broadcast(pct))
      .select(col("n_keys"), col("total_events"), col("max_cnt"),
        col("p50_cnt"), col("p99_cnt"),
        floor(lit(1000.0) * col("max_cnt").cast("double") * nD / tD)
          .as("skew_ratio_permille"),
        floor(lit(1000.0)
          * (lit(2.0) * col("srank").cast("double") - (nD + lit(1.0)) * tD)
          / (nD * tD)).as("gini_permille"))
  }

  // ─── e12 per-user burst census (behavioral bot screen) ──────────────
  /** Per-user event-cadence census — the behavioral-quality screen a
    * training pipeline runs over clickstream-like sources before
    * trusting them: events, distinct event types, active span, median
    * inter-event gap, and the burst profile (gaps ≤ 1 s), with a
    * `is_suspect` flag for machine-cadence users (majority-burst with
    * enough events to mean it). The events analog of t02's document
    * quality score: d-family gates filter WHAT the text is, e12 filters
    * HOW it arrived.
    *
    * Scale: the lag window partitions by user_id (bounded per-user
    * history — the e01 class); the census is one map-side-combining
    * groupBy(user_id); the per-user exact median buffers only that
    * user's gaps (group-bounded; Spark's `approx_percentile` is the
    * escape hatch if per-user histories ever stop being bounded).
    */
  def burstCensus(spark: SparkSession, dir: String): DataFrame =
    burstCensusOf(Tables.events(spark, dir))

  private[graft] def burstCensusOf(e: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val g = e
      .withColumn("ep", epochS(col("ts")))
      .withColumn("gap", col("ep") - lag(col("ep"), 1).over(byUser))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        (max(col("ep")) - min(col("ep"))).as("span_sec"),
        expr("percentile(gap, 0.5)").as("median_gap_sec"),
        sum(when(col("gap") <= 1, 1L).otherwise(0L)).as("bursts"))
    g.withColumn("burst_share_permille",
        when(col("n_events") > 1, expr("(1000 * bursts) div (n_events - 1)"))
          .otherwise(lit(0L)))
      .withColumn("is_suspect",
        col("burst_share_permille") > 500 && col("n_events") >= 20)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e12_burst_census" -> burstCensus,
    "e11_user_skew" -> userSkew,
    "e10_click_attribution" -> clickAttribution,
    "e01_sessionize" -> sessionize,
    "e09_session_paths" -> sessionPaths,
    "e08_session_transitions" -> sessionTransitions,
    "e02_event_tumbling" -> tumblingWindows,
    "e03_json_props" -> jsonProps,
    "e04_funnel" -> funnel,
    "e05_cohort_retention" -> cohortRetention,
    "e06_rolling_active_users" -> rollingActiveUsers,
    "e13_rolling_active_hll" -> rollingActiveHll,
    "e07_event_anomalies" -> eventAnomalies)

  val oracle: Map[String, String] = Map(
    "e12_burst_census" ->
      """WITH g AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ep,
        |         CAST(floor(epoch(ts)) AS BIGINT)
        |           - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
        |             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap,
        |         event_type
        |  FROM events),
        |c AS (
        |  SELECT user_id,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |         max(ep) - min(ep) AS span_sec,
        |         quantile_cont(gap, 0.5) AS median_gap_sec,
        |         CAST(sum(CASE WHEN gap <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS bursts
        |  FROM g GROUP BY 1)
        |SELECT *,
        |       CASE WHEN n_events > 1 THEN (1000 * bursts) // (n_events - 1)
        |            ELSE 0 END AS burst_share_permille,
        |       (CASE WHEN n_events > 1 THEN (1000 * bursts) // (n_events - 1)
        |             ELSE 0 END) > 500 AND n_events >= 20 AS is_suspect
        |FROM c""".stripMargin,
    "e11_user_skew" ->
      """WITH kc AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
        |fr AS (SELECT cnt AS v, CAST(count(*) AS BIGINT) AS f FROM kc GROUP BY 1),
        |w AS (
        |  SELECT v, f,
        |         COALESCE(sum(f) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumf
        |  FROM fr),
        |s AS (
        |  SELECT CAST(sum(f) AS BIGINT) AS n_keys,
        |         CAST(sum(v * f) AS BIGINT) AS total_events,
        |         CAST(sum(v * (cumf * f + (f * (f + 1)) // 2)) AS BIGINT) AS srank
        |  FROM w),
        |pct AS (
        |  SELECT max(cnt) AS max_cnt,
        |         quantile_cont(cnt, 0.5) AS p50_cnt,
        |         quantile_cont(cnt, 0.99) AS p99_cnt
        |  FROM kc)
        |SELECT n_keys, total_events, max_cnt, p50_cnt, p99_cnt,
        |       CAST(floor(1000.0 * CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
        |         / CAST(total_events AS DOUBLE)) AS BIGINT) AS skew_ratio_permille,
        |       CAST(floor(1000.0
        |         * (2.0 * CAST(srank AS DOUBLE)
        |            - (CAST(n_keys AS DOUBLE) + 1.0) * CAST(total_events AS DOUBLE))
        |         / (CAST(n_keys AS DOUBLE) * CAST(total_events AS DOUBLE))) AS BIGINT)
        |         AS gini_permille
        |FROM s, pct""".stripMargin,
    "e10_click_attribution" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts AS p_ts,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS purchase_epoch
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, ts AS c_ts,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS c_epoch
        |  FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.purchase_epoch,
        |       CAST(count(c.c_ts) AS BIGINT) AS n_clicks_1h,
        |       CAST(min(p.purchase_epoch - c.c_epoch) AS BIGINT) AS last_gap_sec
        |FROM p LEFT JOIN c
        |  ON c.user_id = p.user_id
        | AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
        | AND c.c_ts <= p.p_ts
        |GROUP BY 1, 2, 3""".stripMargin,
    "e09_session_paths" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT *,
        |         sum(new_session) OVER wr AS session_seq,
        |         row_number() OVER w AS rn_user,
        |         max(CASE WHEN new_session = 1 THEN rnu END) OVER wr AS rn_start
        |  FROM (SELECT *, row_number() OVER
        |          (PARTITION BY user_id ORDER BY ts, event_id) AS rnu FROM s)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |         wr AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS UNBOUNDED PRECEDING)),
        |sess AS (
        |  SELECT user_id, session_seq,
        |         max(CASE WHEN rnu - rn_start + 1 = 1 THEN event_type END) AS t1,
        |         max(CASE WHEN rnu - rn_start + 1 = 2 THEN event_type END) AS t2,
        |         max(CASE WHEN rnu - rn_start + 1 = 3 THEN event_type END) AS t3,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM g GROUP BY 1, 2),
        |census AS (
        |  SELECT concat_ws('>', t1, t2, t3) AS path,
        |         CAST(count(*) AS BIGINT) AS n_sessions,
        |         CAST(sum(n_events) AS BIGINT) AS sum_events
        |  FROM sess GROUP BY 1)
        |SELECT path, n_sessions,
        |       CAST(sum_events AS DOUBLE) / n_sessions AS avg_events,
        |       CAST(n_sessions AS DOUBLE)
        |         / (SELECT sum(n_sessions) FROM census) AS pct_sessions
        |FROM census""".stripMargin,
    "e08_session_transitions" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |n AS (
        |  SELECT event_type,
        |         lead(event_type) OVER w AS next_type,
        |         lead(new_session) OVER w AS next_new
        |  FROM s
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |t AS (
        |  SELECT event_type AS from_type, next_type AS to_type,
        |         CAST(count(*) AS BIGINT) AS n_transitions
        |  FROM n WHERE next_type IS NOT NULL AND next_new = 0
        |  GROUP BY 1, 2)
        |SELECT from_type, to_type, n_transitions,
        |       CAST(sum(n_transitions) OVER (PARTITION BY from_type) AS BIGINT) AS from_total,
        |       CAST(n_transitions AS DOUBLE)
        |         / sum(n_transitions) OVER (PARTITION BY from_type) AS transition_share
        |FROM t""".stripMargin,
    "e07_event_anomalies" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS activity_date,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2),
        |gmax AS (SELECT max(activity_date) AS dmax FROM daily),
        |grid AS (
        |  SELECT b.event_type,
        |         CAST(unnest(generate_series(CAST(b.d0 AS TIMESTAMP),
        |                                     CAST(g.dmax AS TIMESTAMP),
        |                                     INTERVAL 1 DAY)) AS DATE) AS activity_date
        |  FROM (SELECT event_type, min(activity_date) AS d0
        |        FROM daily GROUP BY 1) b CROSS JOIN gmax g),
        |dense AS (
        |  SELECT g.event_type, g.activity_date,
        |         coalesce(d.n_events, CAST(0 AS BIGINT)) AS n_events
        |  FROM grid g LEFT JOIN daily d USING (event_type, activity_date)),
        |w AS (
        |  SELECT *,
        |         CAST(count(n_events) OVER win AS BIGINT) AS n_prior,
        |         CAST(sum(n_events) OVER win AS BIGINT) AS sum_prior,
        |         CAST(sum(n_events * n_events) OVER win AS BIGINT) AS sumsq_prior
        |  FROM dense
        |  WINDOW win AS (PARTITION BY event_type ORDER BY activity_date
        |                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, activity_date, n_events,
        |       sum_prior / 7.0 AS mean7,
        |       sqrt((7 * sumsq_prior - sum_prior * sum_prior) / 49.0) AS std7,
        |       CASE WHEN 7 * sumsq_prior - sum_prior * sum_prior > 0
        |            THEN (n_events - sum_prior / 7.0)
        |                   / sqrt((7 * sumsq_prior - sum_prior * sum_prior) / 49.0)
        |            END AS z_score,
        |       CASE WHEN 7 * sumsq_prior - sum_prior * sum_prior > 0
        |            THEN abs((n_events - sum_prior / 7.0)
        |                   / sqrt((7 * sumsq_prior - sum_prior * sum_prior) / 49.0)) > 2.0
        |            ELSE CAST(n_events AS DOUBLE) <> sum_prior / 7.0 END AS is_anomaly
        |FROM w WHERE n_prior = 7""".stripMargin,
    "e06_rolling_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |days AS (SELECT DISTINCT d AS activity_date FROM ud),
        |c AS (
        |  SELECT user_id, CAST(i AS BIGINT) AS off, d + CAST(i AS INT) AS activity_date
        |  FROM ud, (SELECT unnest(range(0, 30)) AS i)),
        |j AS (SELECT c.* FROM c JOIN days USING (activity_date))
        |SELECT activity_date,
        |       CAST(count(DISTINCT CASE WHEN off = 0 THEN user_id END) AS BIGINT) AS dau,
        |       CAST(count(DISTINCT CASE WHEN off <= 6 THEN user_id END) AS BIGINT) AS wau,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS mau,
        |       CAST(count(DISTINCT CASE WHEN off = 0 THEN user_id END) AS DOUBLE)
        |         / count(DISTINCT user_id) AS dau_mau_ratio
        |FROM j GROUP BY 1""".stripMargin,
    "e13_rolling_active_hll" ->
      s"""WITH uh AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d,
        |         ${Sketches.hash60Sql("CAST(user_id AS VARCHAR)")} AS h
        |  FROM events),
        |dreg AS (
        |  SELECT d, h % ${Sketches.bucketsCount} AS bucket,
        |         max(${Sketches.rankSql("h")}) AS reg
        |  FROM uh GROUP BY 1, 2),
        |days AS (SELECT DISTINCT d AS activity_date FROM dreg),
        |offs AS (SELECT unnest(range(0, 30)) AS off),
        |contrib AS (
        |  SELECT dr.d + CAST(o.off AS INT) AS activity_date,
        |         dr.bucket, dr.reg, o.off
        |  FROM dreg dr, offs o),
        |wreg AS (
        |  SELECT activity_date, bucket,
        |         max(CASE WHEN off = 0 THEN reg END) AS reg_d,
        |         max(CASE WHEN off <= 6 THEN reg END) AS reg_w,
        |         max(reg) AS reg_m
        |  FROM contrib JOIN days USING (activity_date) GROUP BY 1, 2),
        |st AS (
        |  SELECT activity_date,
        |    CAST(count(reg_d) AS BIGINT) AS nz_d,
        |    CAST(coalesce(sum(CASE WHEN reg_d IS NOT NULL
        |      THEN CAST(1 AS BIGINT) << (53 - reg_d) END), 0) AS BIGINT) AS s_d,
        |    CAST(count(reg_w) AS BIGINT) AS nz_w,
        |    CAST(coalesce(sum(CASE WHEN reg_w IS NOT NULL
        |      THEN CAST(1 AS BIGINT) << (53 - reg_w) END), 0) AS BIGINT) AS s_w,
        |    CAST(count(reg_m) AS BIGINT) AS nz_m,
        |    CAST(coalesce(sum(CASE WHEN reg_m IS NOT NULL
        |      THEN CAST(1 AS BIGINT) << (53 - reg_m) END), 0) AS BIGINT) AS s_m
        |  FROM wreg GROUP BY 1),
        |${Sketches.lcCteSql},
        |est AS (
        |  SELECT st.activity_date,
        |    ${Sketches.estimateSql("st.nz_d", "st.s_d", "lcd")} AS dau_hll,
        |    ${Sketches.estimateSql("st.nz_w", "st.s_w", "lcw")} AS wau_hll,
        |    ${Sketches.estimateSql("st.nz_m", "st.s_m", "lcm")} AS mau_hll
        |  FROM st
        |  JOIN lc lcd ON lcd.v = ${Sketches.lcJoinKeySql("st.nz_d")}
        |  JOIN lc lcw ON lcw.v = ${Sketches.lcJoinKeySql("st.nz_w")}
        |  JOIN lc lcm ON lcm.v = ${Sketches.lcJoinKeySql("st.nz_m")})
        |SELECT activity_date, dau_hll, wau_hll, mau_hll,
        |       dau_hll / mau_hll AS dau_mau_ratio
        |FROM est""".stripMargin,
    "e05_cohort_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_week FROM uw GROUP BY 1),
        |act AS (
        |  SELECT f.cohort_week,
        |         CAST(date_diff('day', f.cohort_week, uw.wk) // 7 AS BIGINT) AS week_offset,
        |         uw.user_id
        |  FROM uw JOIN f USING (user_id)),
        |agg AS (
        |  SELECT cohort_week, week_offset,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM act GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_users,
        |       CAST(n_users AS DOUBLE)
        |         / max(CASE WHEN week_offset = 0 THEN n_users END)
        |             OVER (PARTITION BY cohort_week) AS retention_pct
        |FROM agg""".stripMargin,
    "e04_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts
        |  FROM events GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, s1.signup_ts,
        |         min(CASE WHEN e.event_type = 'click' AND e.ts >= s1.signup_ts
        |                  THEN e.ts END) AS click_ts
        |  FROM events e JOIN s1 USING (user_id)
        |  GROUP BY 1, 2),
        |s3 AS (
        |  SELECT e.user_id, s2.signup_ts, s2.click_ts,
        |         min(CASE WHEN e.event_type = 'purchase' AND e.ts >= s2.click_ts
        |                  THEN e.ts END) AS purchase_ts
        |  FROM events e JOIN s2 USING (user_id)
        |  GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT count(*) AS n_users,
        |         CAST(coalesce(sum(CASE WHEN signup_ts IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_signed_up,
        |         CAST(coalesce(sum(CASE WHEN click_ts IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_clicked_after,
        |         CAST(coalesce(sum(CASE WHEN purchase_ts IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_purchased_after
        |  FROM s3)
        |SELECT *,
        |       CAST(n_clicked_after AS DOUBLE) / nullif(n_signed_up, 0) AS click_conversion,
        |       CAST(n_purchased_after AS DOUBLE) / nullif(n_clicked_after, 0) AS purchase_conversion
        |FROM m""".stripMargin,
    "e01_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, value,  event_type,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT *,
        |         CASE WHEN prev_ts IS NULL
        |                   OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM g),
        |seq AS (
        |  SELECT *,
        |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM s)
        |SELECT user_id, session_seq,
        |       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
        |       CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end_epoch,
        |       count(*) AS n_events,
        |       CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value,
        |       count(DISTINCT event_type) AS distinct_event_types,
        |       CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_sec
        |FROM seq GROUP BY 1, 2""".stripMargin,
    "e02_event_tumbling" ->
      """SELECT strftime(ts, '%Y-%m-%d %H') AS hour_bucket, event_type,
        |       count(*) AS n_events,
        |       CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value,
        |       CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) / count(*) AS avg_value,
        |       count(DISTINCT user_id) AS unique_users
        |FROM events GROUP BY 1, 2""".stripMargin,
    "e03_json_props" ->
      """WITH k AS (
        |  SELECT event_type, value,
        |         CAST(regexp_extract(props, '"k": *([0-9]+)', 1) AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, k % 10 AS k_bucket,
        |       count(*) AS n_events,
        |       CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) / count(*) AS avg_value,
        |       min(k) AS min_k, max(k) AS max_k
        |FROM k GROUP BY 1, 2""".stripMargin)
}
