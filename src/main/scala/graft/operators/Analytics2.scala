package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Money._
import graft.sources.Tables

/** Extended analytical surface: multi-grain rollups, exact percentiles,
  * existence joins, and moving window frames — the remaining query
  * shapes a warehouse user reaches for beyond the reference's 8 canned
  * queries (its dashboard aggregates at several grains and over moving
  * ranges: /root/reference/streamlit_app.py monthly trend + KPI tiles).
  */
object Analytics2 {

  // ─── q25 multi-grain rollup (region → nation → total) ────────────────
  def regionRollup(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        out2(sum(m2(col("c_acctbal")))).as("total_acctbal"),
        grouping(col("r_name")).cast("long").as("gr_region"),
        grouping(col("n_name")).cast("long").as("gr_nation"))
      .select(col("r_name").as("region"), col("n_name").as("nation"),
        col("n_customers"), col("total_acctbal"), col("gr_region"), col("gr_nation"))
  }

  // ─── q26 exact percentiles per segment (box-plot feed) ───────────────
  /** The full five-number summary a box plot draws
    * (streamlit_app.py:1769 px.box) plus p90: exact percentiles per
    * segment — `percentile()` bit-matches DuckDB quantile_cont.
    */
  def segmentPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
    def pct(p: Double): Column = expr(s"percentile(o_totalprice, $p)")
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        count(lit(1)).as("n_orders"),
        pct(0.25).as("p25"),
        pct(0.5).as("median"),
        pct(0.75).as("p75"),
        pct(0.9).as("p90"),
        round(min(col("o_totalprice")), 2).as("min_total"),
        round(max(col("o_totalprice")), 2).as("max_total"))
  }

  // ─── q38 order-amount histogram (dashboard distribution chart) ───────
  /** The dashboard's value-distribution histogram
    * (streamlit_app.py:888,1184,1735 px.histogram): fixed-width bins
    * over order totals with counts and share. The binning is a pure
    * map-side projection (`floor(x / width)`) and the aggregation one
    * tiny groupBy — no sort, no percentile machinery; the share window
    * runs over the ~tens-of-rows post-agg frame only.
    */
  def amountHistogram(spark: SparkSession, dir: String): DataFrame = {
    val width = 25000.0
    val b = Tables.orders(spark, dir)
      .select(floor(col("o_totalprice") / width).cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_orders"))
    b.select(
      col("bin"),
      (col("bin") * width).as("bin_low"),
      ((col("bin") + 1) * width).as("bin_high"),
      col("n_orders"),
      (col("n_orders").cast("double") /
        sum(col("n_orders")).over(Window.partitionBy()).cast("double")).as("pct_orders"))
  }

  // ─── q27 existence joins (semi / anti) per segment ───────────────────
  def segmentExistence(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
    val o = Tables.orders(spark, dir).select(col("o_custkey"), col("o_orderpriority"))
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val withUrgent = c.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_with_urgent"))
    val noOrders = c.join(o.select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_without_orders"))
    val base = c.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
    base
      .join(withUrgent, Seq("c_mktsegment"), "left")
      .join(noOrders, Seq("c_mktsegment"), "left")
      .select(
        col("c_mktsegment").as("segment"),
        col("n_customers"),
        coalesce(col("n_with_urgent"), lit(0L)).as("n_with_urgent"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
  }

  // ─── q28 moving window frames (3-month trailing) ─────────────────────
  def movingWindow(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val monthly = o.groupBy(
        year(col("o_orderdate")).cast("long").as("year"),
        month(col("o_orderdate")).cast("long").as("month"))
      .agg(out2(sum(m3(col("o_totalprice")))).as("rev"),
        count(lit(1)).as("n_orders"))
    val frame = Window.orderBy(col("year"), col("month")).rowsBetween(-2, 0)
    monthly.select(
      col("year"), col("month"), col("rev"), col("n_orders"),
      round(sum(col("rev")).over(frame), 2).as("trailing3_rev"),
      // raw division of safe operands: rounded frame sum / frame row count
      (round(sum(col("rev")).over(frame), 2) / count(lit(1)).over(frame))
        .as("trailing3_avg"),
      min(col("rev")).over(frame).as("trailing3_min"),
      max(col("rev")).over(frame).as("trailing3_max"))
  }

  // ─── q29 price/size correlation (dashboard scatter analog) ───────────
  /** Pearson correlation computed via the explicit sum formula from
    * ROUNDED component sums — unlike built-in `corr` (Welford-style
    * accumulation whose float order differs per engine), this is
    * bit-stable across engines while mathematically identical on exact
    * inputs (streamlit_app.py:1853-1856 price-vs-rating scatter analog).
    */
  def priceSizeCorr(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val m = p.groupBy(col("p_type").as("product_category"))
      .agg(
        count(lit(1)).as("n"),
        outRaw(sum(m2(col("p_retailprice")))).as("sx"),
        sum(col("p_size").cast("long")).as("sy"),
        outRaw(sum(m2(col("p_retailprice")) * m2(col("p_retailprice")))).as("sxx"),
        sum((col("p_size") * col("p_size")).cast("long")).as("syy"),
        outRaw(sum(m2(col("p_retailprice")) * col("p_size"))).as("sxy"))
    m.select(
      col("product_category"), col("n"),
      ((col("n") * col("sxy") - col("sx") * col("sy")) /
        when(sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
          sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")) === 0.0, lit(null))
          .otherwise(sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
        .as("price_size_corr"))
  }

  // ─── q41 monthly revenue trend per category ──────────────────────────
  /** The dashboard's monthly-trend-by-category line chart
    * (streamlit_app.py:1059-1085: groupby(YearMonth × category)): net
    * revenue and line counts per (year, month, category) with
    * per-category MoM growth. The growth lag partitions by category
    * over the tiny post-aggregation frame (months × ≤#categories rows)
    * — the fact never flows through a window.
    */
  def monthlyCategoryTrend(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate"))
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_type"))
    val m = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(
        year(col("o_orderdate")).cast("long").as("year"),
        month(col("o_orderdate")).cast("long").as("month"),
        col("p_type").as("product_category"))
      .agg(
        out2(sum(net(col("l_extendedprice"), col("l_discount")))).as("net_revenue"),
        count(lit(1)).as("n_lines"))
    val w = Window.partitionBy(col("product_category")).orderBy(col("year"), col("month"))
    val prev = lag(col("net_revenue"), 1).over(w)
    m.select(
      col("year"), col("month"), col("product_category"),
      col("net_revenue"), col("n_lines"),
      prev.as("prev_revenue"),
      ((col("net_revenue") - prev) /
        when(prev === 0.0, lit(null)).otherwise(prev) * 100).as("mom_growth_pct"))
  }

  // ─── q40 dashboard sidebar filter slice + filtered KPI row ───────────
  /** The dashboard's interactive sidebar filters
    * (streamlit_app.py:790-813): a date-range + category restriction
    * applied BEFORE every chart. Returns the filtered line-item slice
    * joined to its order date and category; both predicates reach the
    * parquet scans (PlanHygieneSpec pins PushedFilters) — at 100 TB the
    * filters prune row groups before any aggregation sees a row, which
    * is the only shape that makes an interactive dashboard viable.
    */
  def filteredSales(spark: SparkSession, dir: String,
                    fromDate: String, toDate: String,
                    categories: Seq[String]): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"))
      .filter(col("o_orderdate") >= lit(fromDate).cast("timestamp") &&
        col("o_orderdate") < lit(toDate).cast("timestamp") + expr("INTERVAL 1 DAY"))
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_type"))
      .filter(col("p_type").isin(categories: _*))
    Tables.lineitem(spark, dir)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
  }

  /** The filtered KPI row the sidebar drives (streamlit_app.py:805-813:
    * Filtered Revenue / Transactions / Avg Quantity / Avg Price per
    * unit) over a fixed slice so the oracle can replay it. Avg price
    * per unit is the ratio of exact sums (revenue/units) — a float mean
    * of per-row ratios would be partition-order-sensitive.
    */
  def filteredSummary(spark: SparkSession, dir: String): DataFrame =
    filteredSales(spark, dir, "1996-01-01", "1996-12-31", Seq("STANDARD", "PROMO"))
      .agg(
        count(lit(1)).as("n_lines"),
        countDistinct(col("l_orderkey")).as("transactions"),
        out2(sum(m2(col("l_extendedprice")))).as("filtered_revenue"),
        sum(col("l_quantity")).as("total_units"))
      .select(
        col("n_lines"), col("transactions"), col("filtered_revenue"),
        col("total_units"),
        (col("total_units") / col("n_lines")).as("avg_quantity"),
        (col("filtered_revenue") / col("total_units")).as("avg_price_per_unit"))

  // ─── q39 KPI tile row (dashboard headline metrics) ───────────────────
  /** The dashboard's headline KPI tiles (streamlit_app.py:611-659:
    * total revenue, transactions, AOV, units sold, units/order, max
    * single order, unique customers, revenue/customer) as ONE row from
    * two single-pass aggregations — orders grain and lineitem grain —
    * cross-joined as 1-row frames (the q22 pattern; a 1-row broadcast
    * cross join is free at any scale). Revenue accumulates in exact
    * decimal; the ratio tiles divide the rounded sum by exact counts
    * (engine-stable raw IEEE division).
    */
  def kpiTiles(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).agg(
      count(lit(1)).as("transactions"),
      out2(sum(m3(col("o_totalprice")))).as("total_revenue"),
      max(col("o_totalprice")).as("max_single_order"),
      countDistinct(col("o_custkey")).as("unique_customers"))
    // integer-valued double: sums exactly at any partition order
    val li = Tables.lineitem(spark, dir).agg(
      sum(col("l_quantity")).as("total_units"))
    o.crossJoin(li)
      .select(
        col("total_revenue"),
        col("transactions"),
        (col("total_revenue") / col("transactions")).as("avg_order_value"),
        col("total_units"),
        (col("total_units") / col("transactions")).as("avg_units_per_order"),
        col("max_single_order"),
        col("unique_customers"),
        (col("total_revenue") / col("unique_customers")).as("revenue_per_customer"))
  }

  // ─── q44 per-category revenue trendline (least squares) ──────────────
  /** The dashboard's trendline: a least-squares line through each
    * category's monthly revenue series, with the one-month-ahead
    * projection — the "is this category growing?" readout behind every
    * scatter-with-trendline chart. Slope/intercept come from the
    * normal-equation sums computed EXACTLY: month indexes rebase to
    * small integers per category (slope is shift-invariant; the rebase
    * also keeps the decimal×int products far from precision-38 scale
    * loss), revenue stays DECIMAL through every sum (the q29 posture),
    * and the final slope/intercept/projection are fixed-order double
    * expressions — bit-stable at any parallelism, unlike built-in
    * `regr_slope`'s streaming accumulation.
    *
    * Scale: the fact aggregates once to the tiny (category, month)
    * frame; the rebase window and the least-squares aggregation touch
    * only that frame.
    */
  def categoryTrendline(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate"))
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_type"))
    val monthly = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type").as("product_category"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long").as("mi"))
      .agg(round(sum(net(col("l_extendedprice"), col("l_discount"))), 2)
        .cast("decimal(18,2)").as("rev"))
    val rebased = monthly.withColumn("x",
      col("mi") - min(col("mi")).over(Window.partitionBy(col("product_category"))))
    val sums = rebased.groupBy(col("product_category"))
      .agg(
        count(lit(1)).as("n_months"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        max(col("x")).as("mx"),
        outRaw(sum(col("rev"))).as("sy"),
        outRaw(sum(col("rev") * col("x"))).as("sxy"))
    val slope = (col("n_months") * col("sxy") - col("sx") * col("sy")) /
      when(col("n_months") * col("sxx") - col("sx") * col("sx") === 0, lit(null))
        .otherwise((col("n_months") * col("sxx") - col("sx") * col("sx")).cast("double"))
    sums.select(
      col("product_category"), col("n_months"),
      slope.as("slope_per_month"),
      ((col("sy") - slope * col("sx")) / col("n_months")).as("intercept_at_start"),
      (slope * (col("mx") + 1) + (col("sy") - slope * col("sx")) / col("n_months"))
        .as("forecast_next_month"))
  }

  // ─── q44 customer revenue deciles ────────────────────────────────────
  /** Decile analysis — the marketing staple "which tenth of the customer
    * base carries the revenue": per-customer lifetime revenue bucketed
    * into value deciles with per-decile counts, revenue, and share.
    *
    * Deliberately NOT `ntile(10)`: NTILE needs one global sort of every
    * customer through a single task (the bounded-key window
    * anti-pattern, at customer-count scale). Instead the nine decile
    * BOUNDARIES come from one `percentile` aggregation (engine-parity
    * established by q26) and broadcast back — each customer classifies
    * itself with a counting filter over the 9 thresholds, map-side.
    * Tied customers land in the same decile (NTILE would split them
    * arbitrarily); decile populations are therefore approximately even
    * rather than exactly even, which is the honest semantics for a
    * value-tier report. Revenue sums stay DECIMAL (the rounded doubles
    * only feed comparisons); the share window touches the 10-row
    * post-agg frame.
    *
    * The exact `percentile` boundary aggregate still buffers a
    * counts-map of every DISTINCT per-customer revenue in its final
    * merge task (the q26 accepted cost — bounded by distinct-revenue
    * cardinality, not customer count, but still a single-task reduce).
    */
  def revenueDeciles(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(round(sum(m3(col("o_totalprice"))), 2).cast("decimal(18,2)").as("rev_d"))
      .withColumn("rev", col("rev_d").cast("double"))
    val bounds = perCust.agg(
      expr("percentile(rev, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("ts"))
    val deciles = perCust.crossJoin(broadcast(bounds))
      .withColumn("decile",
        (size(filter(col("ts"), t => col("rev") > t)) + 1).cast("long"))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_customers"),
        min(col("rev")).as("min_rev"),
        max(col("rev")).as("max_rev"),
        // grand total must ALSO come from the decimal domain: a window
        // sum of the 10 rounded DOUBLES is order-dependent in the last
        // ulp (observed as an sf0.001 hash flip)
        sum(col("rev_d")).as("tot_d"))
    deciles
      .withColumn("total_rev", round(col("tot_d"), 2).cast("double"))
      .withColumn("revenue_share",
        col("total_rev") /
          round(sum(col("tot_d")).over(Window.partitionBy()), 2).cast("double"))
      .drop("tot_d")
  }

  // ─── q42 join-key heavy-hitter census ────────────────────────────────
  /** The key-frequency report read BEFORE planning a big join: the top
    * 20 hottest join-key values with their row share and skew-vs-mean
    * ratio — the detection counterpart of the mitigation operators
    * (Skew.saltedJoin, AQE skew thresholds are tuned from exactly this
    * table). A key whose skew_vs_mean reads 50× tells you one task will
    * carry 50× the average partition before you pay for the shuffle.
    *
    * Scale: one map-side-combining groupBy over the single key column,
    * then `orderBy.limit(20)` — planned as TakeOrderedAndProject (per-
    * partition top-20 + driver merge), NEVER a global sort of the key
    * census; the rank window and grand-total broadcast touch only the
    * 20-row result. Ties break on the key value, so the top-20 slice is
    * deterministic on any engine.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_rows"))
    val stats = counts.agg(
      sum(col("n_rows")).as("total_rows"), count(lit(1)).as("n_keys"))
    val top = counts.orderBy(col("n_rows").desc, col("l_partkey")).limit(20)
    val w = Window.orderBy(col("n_rows").desc, col("l_partkey"))
    top.crossJoin(broadcast(stats))
      .withColumn("hot_rank", row_number().over(w).cast("long"))
      .select(col("hot_rank"), col("l_partkey").as("part_key"), col("n_rows"),
        (col("n_rows").cast("double") / col("total_rows")).as("share"),
        ((col("n_rows") * col("n_keys")).cast("double") / col("total_rows"))
          .as("skew_vs_mean"))
  }

  // ─── q52 RFM customer segmentation ───────────────────────────────────
  /** The classic CRM segmentation table: per customer, days since the
    * last order (Recency), order count (Frequency), lifetime spend
    * (Monetary), each scored 1–5 against the customer base's exact
    * quintile boundaries, and the score triple mapped to the named
    * segment a campaign targets (champion / loyal / recent / at_risk /
    * hibernating / regular). The reference's customer segmentation
    * (analytical_queries.sql:48-62) buckets on static thresholds; RFM
    * is the data-derived version every retail stack grows into.
    *
    * Scale: one map-side-combining groupBy(o_custkey) collapses orders
    * to the customer frame; the three quintile boundary arrays come
    * from ONE aggregation over that post-agg frame and broadcast back
    * (the q44 pattern — never ntile's global single-task sort); each
    * customer then scores map-side via counting filters. Monetary stays in
    * the exact DECIMAL domain until one final round (parallelism-
    * independent); recency counts whole days against the corpus's own
    * max order date, so the table is reproducible from the data alone.
    */
  def rfmSegmentation(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val dmax = o.agg(max(to_date(col("o_orderdate"))).as("dmax"))
    val perCust = o.groupBy(col("o_custkey"))
      .agg(
        max(to_date(col("o_orderdate"))).as("last_order"),
        count(lit(1)).as("frequency"),
        round(sum(m3(col("o_totalprice"))), 2).cast("decimal(18,2)").as("mon_d"))
      .crossJoin(broadcast(dmax))
      .select(col("o_custkey").as("customer_id"),
        datediff(col("dmax"), col("last_order")).cast("long").as("recency_days"),
        col("frequency"),
        col("mon_d").cast("double").as("monetary"))
    def pct(c: String) = expr(s"percentile($c, array(0.2,0.4,0.6,0.8))")
    val bounds = perCust.agg(
      pct("recency_days").as("rb"), pct("frequency").as("fb"),
      pct("monetary").as("mb"))
    perCust.crossJoin(broadcast(bounds))
      .withColumn("r_score",
        (lit(5) - size(filter(col("rb"),
          t => col("recency_days").cast("double") > t))).cast("long"))
      .withColumn("f_score",
        (size(filter(col("fb"),
          t => col("frequency").cast("double") > t)) + 1).cast("long"))
      .withColumn("m_score",
        (size(filter(col("mb"), t => col("monetary") > t)) + 1).cast("long"))
      .drop("rb", "fb", "mb")
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4,
          "champion")
          .when(col("r_score") >= 3 && col("f_score") >= 3, "loyal")
          .when(col("r_score") >= 4 && col("f_score") <= 2, "recent")
          .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
          .otherwise("regular"))
  }

  // ─── q53 market-basket brand affinity ────────────────────────────────
  /** Association census over order baskets: for every brand pair that
    * co-occurs in at least one order, the co-occurrence count, each
    * brand's own order reach, the pair's support, and its lift
    * (observed co-occurrence over the independence expectation) — the
    * cross-sell table behind "customers who bought X also bought Y".
    * The reference's category performance query
    * (sql/analytical_queries.sql:29-44) profiles categories one at a
    * time; affinity is the pairwise extension a retail mart grows into.
    *
    * Scale: NO self-join of the fact table. Baskets collapse to one
    * bounded `collect_set(p_brand)` per order (≤ |brands| = 25
    * elements, partial-aggregable), pairs explode MAP-SIDE from the
    * sorted set (i < j, so each unordered pair emits once), and the
    * pair census is a map-side-combining groupBy onto ≤ C(25,2) keys.
    * The classic `oc JOIN oc ON same order` plan shuffles the exploded
    * fact twice and is quadratic in basket size at the join; this shape
    * pays one fact shuffle (the order groupBy) and the quadratic term
    * stays inside a per-row array expression — GATED at
    * [[BasketGuard.MaxBasketWidth]]: a basket wider than the design
    * bound emits no pairs and the operator fails loudly instead of
    * burning the quadratic fan-out. Brand reach (25 rows) and
    * the order total (1 row) broadcast back into the pair frame.
    * Support/lift evaluate from exact integer counts in a fixed
    * scalar op order — parallelism-independent — with lift's two
    * products taken in the DOUBLE domain (a long·long intermediate
    * wraps silently once counts reach the ~10¹¹-order regime).
    *
    * Measured (SCALE.md §"Retired measurement mains", q53 A/B at
    * sf0.1, identical outputs): the
    * self-join plan shuffles 1,112,203 records / 11 MiB per run vs
    * 148,737 / 6 MiB here — 7.5× fewer shuffled records. Warm local
    * wall-clock converges (~1.3 s both) because 11 MiB is free on one
    * box; the record asymmetry is the 100 TB term, and it grows with
    * basket size² on the self-join side only.
    */
  def basketAffinity(spark: SparkSession, dir: String): DataFrame =
    basketAffinityOf(spark,
      Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")),
      Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")))

  /** The one-pass basket census (lazy — split out so PlanHygieneSpec
    * can pin its shape: array pair explosion, no fact self-join). Each
    * basket emits an order marker (null,null), a WIDTH marker
    * (null,width) — (null, non-null) can never collide with a data row
    * since singletons are (x,null) and pairs are (x,y) — its singleton
    * brands (x,null), and its i<j pairs, the pairs GATED in-expression
    * on the basket-width design bound so an oversized basket never
    * emits its quadratic fan-out (the caller's guard then fails loudly
    * — see BasketGuard). One map-side-combining groupBy onto a frame
    * bounded by C(|brands|,2)+|brands|+#widths+1 keys. The former
    * shape read `baskets` three times (total / reach / pairs), which
    * re-ran the fact join + collect_set per consumer: measured 112.7 s
    * cold vs 37.7 s warm at sf10 (the widest cold/warm spread in
    * BENCH_SCALE).
    */
  private[graft] def basketCensus(li: DataFrame, p: DataFrame): DataFrame = {
    val W = BasketGuard.MaxBasketWidth
    val baskets = li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("p_brand"))).as("brands"))
    baskets
      .select(explode(expr(
        s"""concat(
          |  array(struct(CAST(NULL AS STRING) AS a, CAST(NULL AS STRING) AS b)),
          |  array(struct(CAST(NULL AS STRING) AS a,
          |               CAST(size(brands) AS STRING) AS b)),
          |  transform(brands, x -> struct(x AS a, CAST(NULL AS STRING) AS b)),
          |  IF(size(brands) <= $W,
          |    flatten(transform(brands,
          |      (x, i) -> transform(slice(brands, i + 2, size(brands)),
          |                y -> struct(x AS a, y AS b)))),
          |    array()))""".stripMargin)).as("pr"))
      .groupBy(col("pr.a").as("brand_a"), col("pr.b").as("brand_b"))
      .agg(count(lit(1)).as("cnt"))
  }

  private[graft] def basketAffinityOf(spark: SparkSession,
      li: DataFrame, p: DataFrame): DataFrame = {
    val W = BasketGuard.MaxBasketWidth
    val census = basketCensus(li, p).persist()
    // One bounded action forces the persisted census AND reads the
    // guard: widest basket (from the width markers) + census key count.
    val stats = census.agg(
        max(when(col("brand_a").isNull && col("brand_b").isNotNull,
          col("brand_b").cast("int"))).as("max_width"),
        count(lit(1)).as("n_keys"))
      .collect()(0)
    val maxWidth = if (stats.isNullAt(0)) 0 else stats.getInt(0)
    if (maxWidth > W) {
      census.unpersist(false)
      throw new BasketGuard.BasketTooWideException(
        "q53_basket_affinity", maxWidth.toLong, W)
    }
    // Persist-lifetime discipline: the census is brand²-bounded, so in
    // the common case it collapses to a LOCAL relation and the cache is
    // released HERE — nothing leaks into a long-lived caller's session.
    // Past the localization gate (an enormous brand domain) the
    // persisted frame serves the three readers below and its release
    // falls to the caller's cache clear (the Bench/Verify harness per-
    // query clearCache), documented because the returned plan still
    // references it.
    val censusR =
      if (stats.getLong(1) <= 200000L) {
        val local = spark.createDataFrame(
          java.util.Arrays.asList(census.collect(): _*), census.schema)
        census.unpersist(false)
        local
      } else census
    val total = censusR.filter(col("brand_a").isNull && col("brand_b").isNull)
      .select(col("cnt").as("n_orders"))
    val reach = censusR.filter(col("brand_a").isNotNull && col("brand_b").isNull)
      .select(col("brand_a").as("brand"), col("cnt").as("n"))
    val pairs = censusR.filter(col("brand_a").isNotNull && col("brand_b").isNotNull)
      .select(col("brand_a"), col("brand_b"), col("cnt").as("pair_orders"))
    pairs
      .join(broadcast(reach.select(col("brand").as("brand_a"), col("n").as("orders_a"))), "brand_a")
      .join(broadcast(reach.select(col("brand").as("brand_b"), col("n").as("orders_b"))), "brand_b")
      .crossJoin(broadcast(total))
      .select(col("brand_a"), col("brand_b"), col("pair_orders"),
        col("orders_a"), col("orders_b"),
        (col("pair_orders").cast("double") / col("n_orders")).as("support"),
        // both lift products run in the double domain: long·long first
        // would wrap silently once pair_orders·n_orders crosses 2⁶³
        // (~10¹¹ orders squared — the 100 TB regime), and the doubles
        // stay exact below 2⁵³ so small-scale hashes are unchanged
        (col("pair_orders").cast("double") * col("n_orders")
          / (col("orders_a").cast("double") * col("orders_b"))).as("lift"))
  }

  // ─── q55 fulfillment lead time ───────────────────────────────────────
  /** Ship-lag distribution per order priority: days from order to each
    * line's ship date — n_lines, mean, exact p50/p90, max. The ops
    * question behind every "are urgent orders actually faster?" SLA
    * review, and the one headline query whose join is genuinely
    * fact-to-fact (lineitem⋈orders on the order key).
    *
    * Scale: the fact-to-fact join is the x03/x04 A/B's real-world
    * instance — co-partitioned SMJ, and the pair to pre-bucket by
    * order key at 100 TB (x04 measures that win; Sinks.bucketed is
    * the writer). Only 3 columns survive to the join; lead-day math is
    * integer. Mean is exact-integer-sum / count. Percentiles group
    * into ≤5 priorities, so the exact single-buffer form is enough.
    */
  def leadTime(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("lead_days"))
      .groupBy(col("priority"))
      .agg(
        count(lit(1)).as("n_lines"),
        (sum(col("lead_days")).cast("double") / count(lit(1))).as("avg_lead_days"),
        expr("percentile(lead_days, array(0.5, 0.9))").as("p"),
        max(col("lead_days")).cast("long").as("max_days"))
      .select(col("priority"), col("n_lines"), col("avg_lead_days"),
        element_at(col("p"), 1).as("p50_days"),
        element_at(col("p"), 2).as("p90_days"),
        col("max_days"))
  }

  // ─── q56 purchase-cadence per segment ────────────────────────────────
  /** Inter-purchase interval profile per market segment: how often
    * customers come back — repeat-customer share, gap count, mean /
    * exact-median / max days between consecutive orders. The lifecycle
    * complement of q52's RFM snapshot (RFM says who is lapsing NOW;
    * cadence says what "normal" return time looks like per segment,
    * the reorder-point input).
    *
    * Scale: ONE pass over the orders fact — gaps come from a lag on
    * the o_custkey window (bounded per-customer history, the e01
    * class), the segment arrives via a broadcast dim join, and one
    * groupBy(segment) computes everything including both distinct
    * customer counts (5 segments — the distinct expansion is bounded).
    * Median is the exact single-buffer form (gaps ≈ order rows; fine
    * to ~10⁶ per segment).
    */
  def purchaseIntervals(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("od"), col("o_orderkey"))
    o.withColumn("gap", datediff(col("od"), lag(col("od"), 1).over(w)))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(when(col("gap").isNotNull, col("o_custkey")))
          .as("n_repeat_customers"),
        count(col("gap")).as("n_gaps"),
        (sum(col("gap")).cast("double") / count(col("gap"))).as("avg_gap_days"),
        expr("percentile(gap, 0.5)").as("p50_gap_days"),
        max(col("gap")).cast("long").as("max_gap_days"))
      .withColumn("repeat_share",
        col("n_repeat_customers").cast("double") / col("n_customers"))
  }

  // ─── q62 first-purchase cohort LTV matrix ────────────────────────────

  /** q62: quarterly acquisition-cohort lifetime-value matrix over
    * orders — each customer joins the cohort of their FIRST order's
    * quarter; the cell (cohort, age-in-quarters) reports how many of
    * that cohort were still buying and what they spent. The revenue
    * complement of e05's event-side cohort retention (e05 counts
    * active users of a product; q62 prices an acquisition vintage —
    * the LTV curve finance reads), and the time-axis complement of
    * q52's point-in-time RFM snapshot.
    *
    * Scale: one hash aggregation to first-order per customer
    * (map-side-combining min), one equi-join of orders against that
    * customer-sized frame on o_custkey (both sides hash-partitioned on
    * the same key), one hash aggregation onto the bounded
    * (cohort × age) grid (≤ #quarters² cells), and a broadcast-sized
    * cohort-size join into that grid. No windows, no self-joins on the
    * fact. Quarter indices are integer arithmetic (year·4+q−1), exact
    * in both engines; money is the DECIMAL discipline.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame =
    cohortLtvOf(Tables.orders(spark, dir))

  private[graft] def cohortLtvOf(orders: DataFrame): DataFrame = {
    def qidx(c: Column): Column = (year(c) * 4 + quarter(c) - 1).cast("long")
    val f = orders.groupBy(col("o_custkey")).agg(min(col("o_orderdate")).as("fd"))
      .select(col("o_custkey"), qidx(col("fd")).as("cidx"))
    val agg = orders.join(f, Seq("o_custkey"))
      .select(col("o_custkey"), col("cidx"),
        (qidx(col("o_orderdate")) - col("cidx")).as("age_quarters"),
        col("o_totalprice"))
      .groupBy(col("cidx"), col("age_quarters"))
      .agg(countDistinct(col("o_custkey")).as("active_customers"),
        count(lit(1)).as("n_orders"),
        out2(sum(m3(col("o_totalprice")))).as("revenue"))
    val cs = f.groupBy(col("cidx")).agg(count(lit(1)).as("cohort_size"))
    agg.join(cs, Seq("cidx"))
      .select(expr("cidx div 4").as("cohort_year"),
        (col("cidx") % 4 + 1).as("cohort_quarter"),
        col("age_quarters"), col("active_customers"), col("n_orders"),
        col("revenue"), col("cohort_size"),
        (col("active_customers").cast("double") / col("cohort_size"))
          .as("retention_share"))
  }

  private val cohortLtvSql: String =
    """WITH f AS (
      |  SELECT o_custkey, CAST(year(min(o_orderdate)) * 4
      |           + quarter(min(o_orderdate)) - 1 AS BIGINT) AS cidx
      |  FROM orders GROUP BY 1),
      |agg AS (
      |  SELECT f.cidx,
      |         CAST(year(o.o_orderdate) * 4 + quarter(o.o_orderdate) - 1 AS BIGINT)
      |           - f.cidx AS age_quarters,
      |         CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS active_customers,
      |         CAST(count(*) AS BIGINT) AS n_orders,
      |         CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(14,3))), 2) AS DOUBLE) AS revenue
      |  FROM orders o JOIN f ON o.o_custkey = f.o_custkey GROUP BY 1, 2),
      |cs AS (SELECT cidx, CAST(count(*) AS BIGINT) AS cohort_size FROM f GROUP BY 1)
      |SELECT cidx // 4 AS cohort_year, cidx % 4 + 1 AS cohort_quarter,
      |       age_quarters, active_customers, n_orders, revenue, cohort_size,
      |       CAST(active_customers AS DOUBLE) / cohort_size AS retention_share
      |FROM agg JOIN cs USING (cidx)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q62_cohort_ltv" -> cohortLtv,
    "q52_rfm_segmentation" -> ((s: SparkSession, d: String) => rfmSegmentation(s, d)),
    "q53_basket_affinity" -> basketAffinity,
    "q55_lead_time" -> ((s: SparkSession, d: String) => leadTime(s, d)),
    "q56_purchase_intervals" -> ((s: SparkSession, d: String) => purchaseIntervals(s, d)),
    "q25_region_rollup" -> regionRollup,
    "q26_segment_percentiles" -> segmentPercentiles,
    "q27_segment_existence" -> segmentExistence,
    "q28_moving_window" -> movingWindow,
    "q29_price_size_corr" -> priceSizeCorr,
    "q38_amount_histogram" -> amountHistogram,
    "q39_kpi_tiles" -> kpiTiles,
    "q40_filtered_summary" -> filteredSummary,
    "q41_monthly_category_trend" -> monthlyCategoryTrend,
    "q42_heavy_hitters" -> heavyHitters,
    "q43_category_trendline" -> categoryTrendline,
    "q44_revenue_deciles" -> revenueDeciles)

  val oracle: Map[String, String] = Map(
    "q62_cohort_ltv" -> cohortLtvSql,
    "q56_purchase_intervals" ->
      """WITH g AS (
        |  SELECT o_custkey,
        |         date_diff('day', lag(CAST(o_orderdate AS DATE)) OVER w,
        |                   CAST(o_orderdate AS DATE)) AS gap
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY CAST(o_orderdate AS DATE), o_orderkey)),
        |j AS (
        |  SELECT c_mktsegment AS segment, o_custkey, gap
        |  FROM g JOIN customer ON o_custkey = c_custkey)
        |SELECT segment,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        |       CAST(count(DISTINCT CASE WHEN gap IS NOT NULL THEN o_custkey END) AS BIGINT)
        |         AS n_repeat_customers,
        |       CAST(count(gap) AS BIGINT) AS n_gaps,
        |       CAST(sum(gap) AS DOUBLE) / count(gap) AS avg_gap_days,
        |       quantile_cont(gap, 0.5) AS p50_gap_days,
        |       CAST(max(gap) AS BIGINT) AS max_gap_days,
        |       CAST(count(DISTINCT CASE WHEN gap IS NOT NULL THEN o_custkey END) AS DOUBLE)
        |         / count(DISTINCT o_custkey) AS repeat_share
        |FROM j GROUP BY 1""".stripMargin,
    "q55_lead_time" ->
      """WITH lead AS (
        |  SELECT o_orderpriority AS priority,
        |         date_diff('day', CAST(o_orderdate AS DATE),
        |                   CAST(l_shipdate AS DATE)) AS lead_days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT priority,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(lead_days) AS DOUBLE) / count(*) AS avg_lead_days,
        |       quantile_cont(lead_days, 0.5) AS p50_days,
        |       quantile_cont(lead_days, 0.9) AS p90_days,
        |       CAST(max(lead_days) AS BIGINT) AS max_days
        |FROM lead GROUP BY 1""".stripMargin,
    "q53_basket_affinity" ->
      """WITH oc AS (
        |  SELECT DISTINCT l_orderkey, p_brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM oc),
        |bc AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n FROM oc GROUP BY 1),
        |pr AS (
        |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
        |         CAST(count(*) AS BIGINT) AS pair_orders
        |  FROM oc a JOIN oc b
        |    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        |  GROUP BY 1, 2)
        |SELECT brand_a, brand_b, pair_orders,
        |       ba.n AS orders_a, bb.n AS orders_b,
        |       CAST(pair_orders AS DOUBLE) / t.n_orders AS support,
        |       CAST(pair_orders AS DOUBLE) * t.n_orders
        |         / (CAST(ba.n AS DOUBLE) * bb.n) AS lift
        |FROM pr
        |JOIN bc ba ON pr.brand_a = ba.p_brand
        |JOIN bc bb ON pr.brand_b = bb.p_brand
        |CROSS JOIN tot t""".stripMargin,
    "q52_rfm_segmentation" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_totalprice
        |  FROM orders),
        |mx AS (SELECT max(d) AS dmax FROM o),
        |pc AS (
        |  SELECT o_custkey AS customer_id,
        |         CAST(date_diff('day', max(d), (SELECT dmax FROM mx)) AS BIGINT) AS recency_days,
        |         CAST(count(*) AS BIGINT) AS frequency,
        |         CAST(round(sum(CAST(o_totalprice AS DECIMAL(14,3))), 2) AS DOUBLE) AS monetary
        |  FROM o GROUP BY 1),
        |b AS (
        |  SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rb,
        |         quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fb,
        |         quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mb
        |  FROM pc),
        |s AS (
        |  SELECT customer_id, recency_days, frequency, monetary,
        |         CAST(5 - len(list_filter(rb, t -> recency_days > t)) AS BIGINT) AS r_score,
        |         CAST(1 + len(list_filter(fb, t -> frequency > t)) AS BIGINT) AS f_score,
        |         CAST(1 + len(list_filter(mb, t -> monetary > t)) AS BIGINT) AS m_score
        |  FROM pc CROSS JOIN b)
        |SELECT customer_id, recency_days, frequency, monetary,
        |       r_score, f_score, m_score,
        |       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
        |            WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
        |            WHEN r_score >= 4 AND f_score <= 2 THEN 'recent'
        |            WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
        |            WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
        |            ELSE 'regular' END AS segment
        |FROM s""".stripMargin,
    "q44_revenue_deciles" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |         CAST(round(sum(CAST(o_totalprice AS DECIMAL(14,3))), 2) AS DECIMAL(18,2)) AS rev_d
        |  FROM orders GROUP BY 1),
        |pcd AS (SELECT o_custkey, rev_d, CAST(rev_d AS DOUBLE) AS rev FROM pc),
        |b AS (
        |  SELECT quantile_cont(rev, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS ts FROM pcd),
        |d AS (
        |  SELECT pcd.*,
        |         CAST(len(list_filter(b.ts, t -> pcd.rev > t)) + 1 AS BIGINT) AS decile
        |  FROM pcd CROSS JOIN b),
        |agg AS (
        |  SELECT decile,
        |         CAST(count(*) AS BIGINT) AS n_customers,
        |         min(rev) AS min_rev,
        |         max(rev) AS max_rev,
        |         sum(rev_d) AS tot_d
        |  FROM d GROUP BY 1)
        |SELECT decile, n_customers, min_rev, max_rev,
        |       CAST(round(tot_d, 2) AS DOUBLE) AS total_rev,
        |       CAST(round(tot_d, 2) AS DOUBLE)
        |         / CAST(round(sum(tot_d) OVER (), 2) AS DOUBLE) AS revenue_share
        |FROM agg""".stripMargin,
    "q43_category_trendline" ->
      """WITH monthly AS (
        |  SELECT p_type AS product_category,
        |         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi,
        |         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))), 2)
        |              AS DECIMAL(18,2)) AS rev
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |rebased AS (
        |  SELECT *, mi - min(mi) OVER (PARTITION BY product_category) AS x FROM monthly),
        |sums AS (
        |  SELECT product_category,
        |         CAST(count(*) AS BIGINT) AS n_months,
        |         CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(max(x) AS BIGINT) AS mx,
        |         CAST(sum(rev) AS DOUBLE) AS sy,
        |         CAST(sum(rev * x) AS DOUBLE) AS sxy
        |  FROM rebased GROUP BY 1)
        |SELECT product_category, n_months,
        |       (n_months * sxy - sx * sy)
        |         / nullif(CAST(n_months * sxx - sx * sx AS DOUBLE), 0) AS slope_per_month,
        |       (sy - (n_months * sxy - sx * sy)
        |                / nullif(CAST(n_months * sxx - sx * sx AS DOUBLE), 0) * sx)
        |         / n_months AS intercept_at_start,
        |       (n_months * sxy - sx * sy)
        |           / nullif(CAST(n_months * sxx - sx * sx AS DOUBLE), 0) * (mx + 1)
        |         + (sy - (n_months * sxy - sx * sy)
        |                    / nullif(CAST(n_months * sxx - sx * sx AS DOUBLE), 0) * sx)
        |             / n_months AS forecast_next_month
        |FROM sums""".stripMargin,
    "q42_heavy_hitters" ->
      """WITH counts AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM lineitem GROUP BY 1),
        |s AS (
        |  SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows,
        |         CAST(count(*) AS BIGINT) AS n_keys
        |  FROM counts),
        |top AS (SELECT * FROM counts ORDER BY n_rows DESC, l_partkey LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY n_rows DESC, l_partkey) AS BIGINT) AS hot_rank,
        |       l_partkey AS part_key, n_rows,
        |       CAST(n_rows AS DOUBLE) / total_rows AS share,
        |       CAST(n_rows * n_keys AS DOUBLE) / total_rows AS skew_vs_mean
        |FROM top CROSS JOIN s""".stripMargin,
    "q29_price_size_corr" ->
      """WITH m AS (
        |  SELECT p_type AS product_category,
        |         count(*) AS n,
        |         CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sx,
        |         CAST(sum(p_size) AS BIGINT) AS sy,
        |         CAST(sum(CAST(p_retailprice AS DECIMAL(12,2)) * CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
        |         CAST(sum(p_size * p_size) AS BIGINT) AS syy,
        |         CAST(sum(CAST(p_retailprice AS DECIMAL(12,2)) * p_size) AS DOUBLE) AS sxy
        |  FROM part GROUP BY 1)
        |SELECT product_category, n,
        |       (n * sxy - sx * sy)
        |         / nullif(sqrt(n * sxx - sx * sx)
        |                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0) AS price_size_corr
        |FROM m""".stripMargin,
    "q25_region_rollup" ->
      """SELECT r_name AS region, n_name AS nation,
        |       count(*) AS n_customers,
        |       CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_acctbal,
        |       CAST(grouping(r_name) AS BIGINT) AS gr_region,
        |       CAST(grouping(n_name) AS BIGINT) AS gr_nation
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "q26_segment_percentiles" ->
      """SELECT c_mktsegment AS segment,
        |       count(*) AS n_orders,
        |       quantile_cont(o_totalprice, 0.25) AS p25,
        |       quantile_cont(o_totalprice, 0.5) AS median,
        |       quantile_cont(o_totalprice, 0.75) AS p75,
        |       quantile_cont(o_totalprice, 0.9) AS p90,
        |       round(min(o_totalprice), 2) AS min_total,
        |       round(max(o_totalprice), 2) AS max_total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "q38_amount_histogram" ->
      """WITH b AS (
        |  SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
        |         count(*) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT bin,
        |       bin * 25000.0 AS bin_low,
        |       (bin + 1) * 25000.0 AS bin_high,
        |       n_orders,
        |       CAST(n_orders AS DOUBLE) / CAST(sum(n_orders) OVER () AS DOUBLE) AS pct_orders
        |FROM b""".stripMargin,
    "q39_kpi_tiles" ->
      """WITH o AS (
        |  SELECT count(*) AS transactions,
        |         CAST(round(sum(CAST(o_totalprice AS DECIMAL(14,3))), 2) AS DOUBLE) AS total_revenue,
        |         max(o_totalprice) AS max_single_order,
        |         count(DISTINCT o_custkey) AS unique_customers
        |  FROM orders),
        |li AS (SELECT sum(l_quantity) AS total_units FROM lineitem)
        |SELECT total_revenue,
        |       transactions,
        |       total_revenue / transactions AS avg_order_value,
        |       total_units,
        |       total_units / transactions AS avg_units_per_order,
        |       max_single_order,
        |       unique_customers,
        |       total_revenue / unique_customers AS revenue_per_customer
        |FROM o CROSS JOIN li""".stripMargin,
    "q40_filtered_summary" ->
      """WITH f AS (
        |  SELECT l_orderkey, l_extendedprice, l_quantity
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1996-12-31 00:00:00' + INTERVAL 1 DAY
        |    AND p_type IN ('STANDARD', 'PROMO')),
        |m AS (
        |  SELECT count(*) AS n_lines,
        |         count(DISTINCT l_orderkey) AS transactions,
        |         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS filtered_revenue,
        |         sum(l_quantity) AS total_units
        |  FROM f)
        |SELECT n_lines, transactions, filtered_revenue, total_units,
        |       total_units / n_lines AS avg_quantity,
        |       filtered_revenue / total_units AS avg_price_per_unit
        |FROM m""".stripMargin,
    "q41_monthly_category_trend" ->
      """WITH m AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
        |         CAST(month(o_orderdate) AS BIGINT) AS month,
        |         p_type AS product_category,
        |         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) AS net_revenue,
        |         count(*) AS n_lines
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2, 3)
        |SELECT year, month, product_category, net_revenue, n_lines,
        |       lag(net_revenue) OVER w AS prev_revenue,
        |       (net_revenue - lag(net_revenue) OVER w)
        |         / nullif(lag(net_revenue) OVER w, 0) * 100 AS mom_growth_pct
        |FROM m
        |WINDOW w AS (PARTITION BY product_category ORDER BY year, month)""".stripMargin,
    "q27_segment_existence" ->
      """SELECT c_mktsegment AS segment,
        |       count(*) AS n_customers,
        |       CAST(coalesce(sum(CASE WHEN EXISTS (
        |           SELECT 1 FROM orders
        |           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_with_urgent,
        |       CAST(coalesce(sum(CASE WHEN NOT EXISTS (
        |           SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_without_orders
        |FROM customer
        |GROUP BY 1""".stripMargin,
    "q28_moving_window" ->
      """WITH monthly AS (
        |  SELECT year(o_orderdate) AS year, month(o_orderdate) AS month,
        |         CAST(round(sum(CAST(o_totalprice AS DECIMAL(14,3))), 2) AS DOUBLE) AS rev,
        |         count(*) AS n_orders
        |  FROM orders GROUP BY 1, 2)
        |SELECT year, month, rev, n_orders,
        |       round(sum(rev) OVER w, 2) AS trailing3_rev,
        |       round(sum(rev) OVER w, 2) / count(*) OVER w AS trailing3_avg,
        |       min(rev) OVER w AS trailing3_min,
        |       max(rev) OVER w AS trailing3_max
        |FROM monthly
        |WINDOW w AS (ORDER BY year, month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin)
}
