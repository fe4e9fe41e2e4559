package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Money.{m3, out2}
import graft.sources.Tables

/** Dimension builders — the reference's dimensional-modeling layer
  * (/root/reference/etl/transform.py:134-339) re-expressed as declarative
  * Spark plans.
  *
  * Scale notes: dim_date is generated with `sequence()`+`explode` (a
  * few-thousand-row plan, no driver loop — transform.py:148 used a pandas
  * date_range on the driver). Customer-dim surrogate keys use an
  * unpartitioned `row_number` for parity with the reference's positional
  * index (transform.py:192); at true 100 TB dim cardinality swap for the
  * natural key or a hash key — see Scaladoc on [[surrogateKey]].
  */
object Dimensions {

  private def isoDow(c: Column): Column = ((dayofweek(c) + lit(5)) % lit(7)) + lit(1)

  /** Sequential surrogate key. Deterministic (ordered by the natural key)
    * but serializes post-agg rows through one partition — acceptable for
    * dims up to ~10^7 rows; beyond that prefer the natural/hash key.
    */
  private def surrogateKey(orderCol: String): Column =
    row_number().over(Window.orderBy(col(orderCol))).cast("long")

  /** Hash surrogate key — the scale-path alternative to [[surrogateKey]]:
    * a 60-bit key from the first 15 hex digits of md5(natural key).
    * Embarrassingly parallel (no global row_number window serializing
    * the dim through one partition) and derivable by ANY consumer from
    * the natural key alone, so fact builds don't even need the dim join
    * to stamp the FK. Engine-portable: DuckDB computes the identical key
    * as CAST('0x' || substr(md5(k), 1, 15) AS BIGINT). Collision odds at
    * a 10^7-row dim: ~n²/2^61 ≈ 4e-5 — acceptable for analytics keys.
    */
  def hashKey(natural: Column): Column =
    conv(substring(md5(natural.cast("string")), 1, 15), 16, 10).cast("long")

  // ─── q09 date dimension (transform.py:134-172) ───────────────────────
  def dimDate(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val bounds = o.agg(
      min(to_date(col("o_orderdate"))).as("mn"),
      max(to_date(col("o_orderdate"))).as("mx"))
    val days = bounds.select(
      explode(sequence(
        make_date(year(col("mn")), lit(1), lit(1)),
        make_date(year(col("mx")), lit(12), lit(31)),
        expr("interval 1 day"))).as("full_date"))
    days.select(
      date_format(col("full_date"), "yyyyMMdd").cast("long").as("date_key"),
      col("full_date"),
      year(col("full_date")).cast("long").as("year"),
      quarter(col("full_date")).cast("long").as("quarter"),
      month(col("full_date")).cast("long").as("month"),
      date_format(col("full_date"), "MMMM").as("month_name"),
      weekofyear(col("full_date")).cast("long").as("week_of_year"),
      dayofmonth(col("full_date")).cast("long").as("day_of_month"),
      isoDow(col("full_date")).cast("long").as("day_of_week"),
      date_format(col("full_date"), "EEEE").as("day_name"),
      (isoDow(col("full_date")) >= 6).as("is_weekend"),
      when(month(col("full_date")) >= 10, year(col("full_date")) + 1)
        .otherwise(year(col("full_date"))).cast("long").as("fiscal_year"),
      (((month(col("full_date")) + 2) % 12).cast("long").divide(3).cast("long") + 1)
        .as("fiscal_quarter"))
  }

  /** Customer profile snapshot used by the dim build and the SCD2 merge:
    * one row per customer with purchase stats (transform.py:183-189).
    */
  def customerSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
      .agg(
        min(col("o_orderdate")).as("first_purchase_date"),
        max(col("o_orderdate")).as("last_purchase_date"),
        count(col("o_orderkey")).as("total_transactions"),
        out2(coalesce(sum(m3(col("o_totalprice"))), lit(0).cast("decimal(14,3)"))).as("total_spend"))
  }

  private[graft] def segmentOf(cnt: Column): Column =
    when(cnt <= 1, "New").when(cnt <= 3, "Occasional")
      .when(cnt <= 5, "Regular").otherwise("Loyal")

  private def bandOf(bal: Column): Column =
    when(bal < 0, "Debt").when(bal < 2500, "Low")
      .when(bal < 5000, "Mid").when(bal < 7500, "High").otherwise("Premium")

  // ─── q10 customer dimension w/ SCD2 columns (transform.py:175-223) ───
  private def dimCustomerWithKey(spark: SparkSession, dir: String,
                                 key: Column): DataFrame = {
    customerSnapshot(spark, dir)
      .select(
        col("c_custkey").as("customer_id"),
        col("c_name").as("customer_name"),
        col("c_mktsegment").as("segment_attr"),
        col("c_acctbal").as("acctbal"),
        bandOf(col("c_acctbal")).as("balance_band"),
        segmentOf(col("total_transactions")).as("customer_segment"),
        col("first_purchase_date"), col("last_purchase_date"),
        col("total_transactions"), col("total_spend"))
      .withColumn("customer_key", key)
      .withColumn("effective_start_date",
        coalesce(col("first_purchase_date"), lit("1990-01-01 00:00:00").cast("timestamp_ntz")))
      .withColumn("effective_end_date", lit("9999-12-31 00:00:00").cast("timestamp_ntz"))
      .withColumn("is_current", lit(true))
      .withColumn("version", lit(1L))
      .withColumn("row_hash",
        md5(concat_ws("_", col("customer_id"), col("segment_attr"), col("customer_name"))))
  }

  /** Reference-parity form: positional surrogate key (transform.py:192's
    * pandas index) — the unpartitioned row_number is acceptable only
    * because dims stay ≤10^7 rows; the warehouse path uses
    * [[dimCustomerHashed]] instead.
    */
  def dimCustomer(spark: SparkSession, dir: String): DataFrame =
    dimCustomerWithKey(spark, dir, surrogateKey("customer_id"))

  /** Scale form (q57): hash surrogate key, matching the FK that
    * [[Facts.factSales]] derives inline from the natural key — no global
    * window anywhere in the warehouse build. Oracle-checked in its own
    * right (the DuckDB oracle recomputes the identical 60-bit key), so
    * the scale path's key arithmetic is hash-verified, not just
    * plan-pinned.
    */
  def dimCustomerHashed(spark: SparkSession, dir: String): DataFrame =
    dimCustomerWithKey(spark, dir, hashKey(col("customer_id")))

  // ─── q11 SCD Type 2 merge demo (load.py:246-319) ─────────────────────
  /** Deterministic merge scenario: the "existing" dim is the customer
    * activity snapshot as of 1999-01-01; the "incoming" batch is the
    * snapshot over all orders. Customers whose tracked attribute (the
    * activity segment) changed get their v1 row expired and a v2 row
    * inserted; brand-new customers insert at v1 — exactly the reference's
    * expire-changed + insert-new semantics keyed on row_hash.
    */
  def scd2MergeDemo(spark: SparkSession, dir: String): DataFrame = {
    // NTZ family throughout: the source parquet timestamps are NTZ, and a
    // session-TZ (LTZ) literal would be written as parquet INT96 in the
    // verify dump — DuckDB reads INT96 as int64 NANOS, which 9999-12-31
    // overflows, silently corrupting the oracle hash (round-1 q10/q11).
    val splitTs = lit("1999-01-01 00:00:00").cast("timestamp_ntz")
    // both snapshots come from ONE join+aggregate pass (conditional
    // count for the pre-split state); the merge reads the two projections
    // in separate plan branches, but the frame is tiny (|customers| rows)
    // and rebuilt cheaply, so no persist — a persist here would leak cache
    // into the long-lived shared sessions of Bench/Pipeline.
    val joint = {
      val c = Tables.customer(spark, dir).select(col("c_custkey"))
      val o = Tables.orders(spark, dir).select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(
          count(when(col("o_orderdate") < splitTs, col("o_orderkey"))).as("cnt_pre"),
          count(col("o_orderkey")).as("cnt_all"))
    }
    def snap(cnt: String): DataFrame =
      joint.select(
          col("c_custkey").as("customer_id"),
          segmentOf(col(cnt)).as("segment"))
        .withColumn("row_hash", md5(concat_ws("_", col("customer_id"), col("segment"))))
    // existing dim: v1/current rows as of the split date
    val existing = snap("cnt_pre")
      .withColumn("version", lit(1L))
      .withColumn("is_current", lit(true))
      .withColumn("effective_start_date", splitTs)
      .withColumn("effective_end_date", lit("9999-12-31 00:00:00").cast("timestamp_ntz"))
    val incoming = snap("cnt_all")
    Scd2.merge(
      existing, incoming,
      key = "customer_id",
      mergeTs = lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
  }

  // ─── q46 cumulative customer acquisition curve ───────────────────────
  /** The dashboard's customer-growth series: for every calendar date,
    * the customers acquired that day (first purchase) and the running
    * total per segment — the onboarding curve read next to revenue
    * trends. Zero-acquisition dates emit rows (a growth curve with holes
    * misreads as data loss), so the dates × segments grid is built
    * first.
    *
    * Scale: this is the EVENT-DIFF shape for "how many members by date
    * d" — one tiny (date, segment) count aggregation of the dim plus
    * running sums over the calendar grid. The tempting alternative — a
    * non-equi join of dates against membership intervals
    * (`start <= d < end`) — is quadratic for long-lived rows, which is
    * exactly what dimension rows are; the cumulative form is O(dim +
    * dates), and every window here partitions by segment over the
    * calendar grid (dates × segments — always tiny next to the dim).
    */
  def customerGrowth(spark: SparkSession, dir: String): DataFrame = {
    val dim = dimCustomer(spark, dir)
      .select(to_date(col("first_purchase_date")).as("full_date"),
        col("customer_segment"))
      .filter(col("full_date").isNotNull)
    val acquired = dim.groupBy(col("full_date"), col("customer_segment"))
      .agg(count(lit(1)).as("n_new_customers"))
    val segments = dim.select(col("customer_segment")).distinct()
    val grid = dimDate(spark, dir).select(col("full_date"))
      .crossJoin(broadcast(segments))
    val w = Window.partitionBy(col("customer_segment")).orderBy(col("full_date"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(acquired, Seq("full_date", "customer_segment"), "left")
      .withColumn("n_new_customers", coalesce(col("n_new_customers"), lit(0L)))
      .withColumn("cumulative_customers", sum(col("n_new_customers")).over(w))
      .select(col("full_date"), col("customer_segment"),
        col("n_new_customers"), col("cumulative_customers"))
  }

  // ─── q31 product dimension + SCD2 merge (transform.py:226-280) ───────
  /** Product dim — SCD2 instance #2 with multi-source price conformance
    * (/root/reference/etl/transform.py:226-280): the part catalog plays
    * the API product snapshot (p_retailprice = api_price) and the sales
    * ledger supplies an observed per-part unit price. The incoming batch
    * conforms obviously-stale API prices (observed more than 1.5x away)
    * to the observed price; the existing dim is the original API
    * snapshot restricted to parts already sold before the split date.
    * Conformed prices expire + re-version through the generic
    * [[Scd2.merge]]; parts first sold later arrive as `new`.
    *
    * Scale: one shuffle for the per-part price aggregate, then
    * part-sized joins (AQE broadcasts the smaller side); the merge
    * itself is the single full-outer pass of Scd2.merge.
    */
  def dimProduct(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"), col("p_type"), col("p_retailprice"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_extendedprice"), col("l_quantity"), col("l_shipdate"))
    // observed unit price: exact-decimal revenue sum / exact unit count
    // (quantities are integral doubles, so their float sum is exact),
    // re-rounded in the decimal domain — parallelism-independent
    val obs = li.groupBy(col("l_partkey")).agg(
      round((out2(sum(m3(col("l_extendedprice")))) / sum(col("l_quantity")))
        .cast("decimal(18,6)"), 2).cast("double").as("observed_price"))
    def productHash(price: Column): Column =
      md5(concat_ws("_", col("product_id"), col("product_name"),
        price.cast("decimal(12,2)").cast("string")))
    val incoming = p.join(obs, col("p_partkey") === col("l_partkey"), "left")
      .select(
        col("p_partkey").as("product_id"),
        col("p_name").as("product_name"),
        col("p_type").as("product_category"),
        when(col("observed_price").isNotNull &&
          abs(col("observed_price") - col("p_retailprice")) / col("p_retailprice") > 1.5,
          col("observed_price")).otherwise(col("p_retailprice")).as("price"))
      .withColumn("row_hash", productHash(col("price")))
    val soldPre = li
      .filter(col("l_shipdate") < lit("1995-03-01 00:00:00").cast("timestamp_ntz"))
      .select(col("l_partkey").as("product_id")).distinct()
    val existing = p
      .select(
        col("p_partkey").as("product_id"),
        col("p_name").as("product_name"),
        col("p_type").as("product_category"),
        col("p_retailprice").as("price"))
      .join(soldPre, Seq("product_id"), "left_semi")
      .withColumn("row_hash", productHash(col("price")))
      .withColumn("version", lit(1L))
      .withColumn("is_current", lit(true))
      .withColumn("effective_start_date", lit("1995-01-01 00:00:00").cast("timestamp_ntz"))
      .withColumn("effective_end_date", lit("9999-12-31 00:00:00").cast("timestamp_ntz"))
    Scd2.merge(existing, incoming,
      key = "product_id",
      mergeTs = lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q09_dim_date" -> dimDate,
    "q10_dim_customer" -> dimCustomer,
    "q57_dim_customer_hashed" -> dimCustomerHashed,
    "q11_scd2_merge" -> scd2MergeDemo,
    "q31_dim_product" -> dimProduct,
    "q46_customer_growth" -> customerGrowth)

  val oracle: Map[String, String] = Map(
    "q46_customer_growth" ->
      """WITH snap AS (
        |  SELECT c_custkey,
        |         min(o_orderdate) AS first_purchase_date,
        |         count(o_orderkey) AS total_transactions
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1),
        |dim AS (
        |  SELECT CAST(first_purchase_date AS DATE) AS full_date,
        |         CASE WHEN total_transactions <= 1 THEN 'New'
        |              WHEN total_transactions <= 3 THEN 'Occasional'
        |              WHEN total_transactions <= 5 THEN 'Regular'
        |              ELSE 'Loyal' END AS customer_segment
        |  FROM snap WHERE first_purchase_date IS NOT NULL),
        |acq AS (SELECT full_date, customer_segment, CAST(count(*) AS BIGINT) AS n
        |        FROM dim GROUP BY 1, 2),
        |b AS (SELECT make_date(CAST(year(min(o_orderdate)) AS INT), 1, 1) AS mn,
        |             make_date(CAST(year(max(o_orderdate)) AS INT), 12, 31) AS mx
        |      FROM orders),
        |dates AS (SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS full_date FROM b),
        |segs AS (SELECT DISTINCT customer_segment FROM dim),
        |grid AS (SELECT full_date, customer_segment FROM dates CROSS JOIN segs)
        |SELECT g.full_date, g.customer_segment,
        |       CAST(coalesce(acq.n, 0) AS BIGINT) AS n_new_customers,
        |       CAST(sum(coalesce(acq.n, 0)) OVER (PARTITION BY g.customer_segment
        |            ORDER BY g.full_date
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS cumulative_customers
        |FROM grid g LEFT JOIN acq
        |  ON g.full_date = acq.full_date AND g.customer_segment = acq.customer_segment""".stripMargin,
    "q31_dim_product" ->
      """WITH obs AS (
        |  SELECT l_partkey,
        |         CAST(round(CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,3))), 2) AS DOUBLE)
        |              / sum(l_quantity) AS DECIMAL(18,6)), 2) AS DOUBLE) AS observed_price
        |  FROM lineitem GROUP BY 1),
        |inc AS (
        |  SELECT p_partkey AS product_id, p_name AS product_name, p_type AS product_category,
        |         CASE WHEN observed_price IS NOT NULL
        |                   AND abs(observed_price - p_retailprice) / p_retailprice > 1.5
        |              THEN observed_price ELSE p_retailprice END AS price
        |  FROM part LEFT JOIN obs ON p_partkey = obs.l_partkey),
        |inch AS (
        |  SELECT *, md5(concat_ws('_', product_id, product_name,
        |              CAST(CAST(price AS DECIMAL(12,2)) AS VARCHAR))) AS row_hash
        |  FROM inc),
        |pre AS (SELECT DISTINCT l_partkey AS product_id FROM lineitem
        |        WHERE l_shipdate < TIMESTAMP '1995-03-01'),
        |ex AS (
        |  SELECT p_partkey AS product_id, p_name AS product_name, p_type AS product_category,
        |         p_retailprice AS price,
        |         md5(concat_ws('_', p_partkey, p_name,
        |             CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR))) AS row_hash
        |  FROM part JOIN pre ON p_partkey = pre.product_id),
        |j AS (SELECT ex.product_id AS eid, ex.product_name AS en, ex.product_category AS ec,
        |             ex.price AS ep, ex.row_hash AS eh,
        |             inch.product_id AS iid, inch.product_name AS inm,
        |             inch.product_category AS ic, inch.price AS ip, inch.row_hash AS ih
        |      FROM ex FULL OUTER JOIN inch ON ex.product_id = inch.product_id)
        |SELECT eid AS product_id, en AS product_name, ec AS product_category, ep AS price,
        |       CAST(1 AS BIGINT) AS version, TRUE AS is_current,
        |       TIMESTAMP '1995-01-01' AS effective_start_date,
        |       TIMESTAMP '9999-12-31' AS effective_end_date,
        |       'unchanged' AS change_type, eh AS row_hash
        |FROM j WHERE eid IS NOT NULL AND ih IS NOT NULL AND eh = ih
        |UNION ALL
        |SELECT eid, en, ec, ep, CAST(1 AS BIGINT), FALSE,
        |       TIMESTAMP '1995-01-01', TIMESTAMP '2000-01-01', 'expired', eh
        |FROM j WHERE eid IS NOT NULL AND iid IS NOT NULL AND eh <> ih
        |UNION ALL
        |SELECT iid, inm, ic, ip, CAST(2 AS BIGINT), TRUE,
        |       TIMESTAMP '2000-01-01', TIMESTAMP '9999-12-31', 'changed', ih
        |FROM j WHERE eid IS NOT NULL AND iid IS NOT NULL AND eh <> ih
        |UNION ALL
        |SELECT iid, inm, ic, ip, CAST(1 AS BIGINT), TRUE,
        |       TIMESTAMP '2000-01-01', TIMESTAMP '9999-12-31', 'new', ih
        |FROM j WHERE eid IS NULL""".stripMargin,
    "q09_dim_date" ->
      """WITH b AS (
        |  SELECT make_date(CAST(year(min(o_orderdate)) AS INT), 1, 1) AS mn,
        |         make_date(CAST(year(max(o_orderdate)) AS INT), 12, 31) AS mx
        |  FROM orders),
        |d AS (SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS full_date FROM b)
        |SELECT CAST(strftime(full_date, '%Y%m%d') AS BIGINT) AS date_key,
        |       full_date,
        |       CAST(year(full_date) AS BIGINT) AS year,
        |       CAST(quarter(full_date) AS BIGINT) AS quarter,
        |       CAST(month(full_date) AS BIGINT) AS month,
        |       monthname(full_date) AS month_name,
        |       CAST(weekofyear(full_date) AS BIGINT) AS week_of_year,
        |       CAST(day(full_date) AS BIGINT) AS day_of_month,
        |       CAST(isodow(full_date) AS BIGINT) AS day_of_week,
        |       dayname(full_date) AS day_name,
        |       isodow(full_date) >= 6 AS is_weekend,
        |       CAST(CASE WHEN month(full_date) >= 10 THEN year(full_date) + 1
        |                 ELSE year(full_date) END AS BIGINT) AS fiscal_year,
        |       CAST(((month(full_date) + 2) % 12) // 3 + 1 AS BIGINT) AS fiscal_quarter
        |FROM d""".stripMargin,
    "q10_dim_customer" ->
      """WITH snap AS (
        |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
        |         min(o_orderdate) AS first_purchase_date,
        |         max(o_orderdate) AS last_purchase_date,
        |         count(o_orderkey) AS total_transactions,
        |         CAST(round(coalesce(sum(CAST(o_totalprice AS DECIMAL(14,3))), CAST(0 AS DECIMAL(14,3))), 2) AS DOUBLE) AS total_spend
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1, 2, 3, 4)
        |SELECT c_custkey AS customer_id, c_name AS customer_name,
        |       c_mktsegment AS segment_attr, c_acctbal AS acctbal,
        |       CASE WHEN c_acctbal < 0 THEN 'Debt' WHEN c_acctbal < 2500 THEN 'Low'
        |            WHEN c_acctbal < 5000 THEN 'Mid' WHEN c_acctbal < 7500 THEN 'High'
        |            ELSE 'Premium' END AS balance_band,
        |       CASE WHEN total_transactions <= 1 THEN 'New'
        |            WHEN total_transactions <= 3 THEN 'Occasional'
        |            WHEN total_transactions <= 5 THEN 'Regular'
        |            ELSE 'Loyal' END AS customer_segment,
        |       first_purchase_date, last_purchase_date,
        |       total_transactions, total_spend,
        |       CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_key,
        |       coalesce(first_purchase_date, TIMESTAMP '1990-01-01') AS effective_start_date,
        |       TIMESTAMP '9999-12-31' AS effective_end_date,
        |       TRUE AS is_current,
        |       CAST(1 AS BIGINT) AS version,
        |       md5(concat_ws('_', c_custkey, c_mktsegment, c_name)) AS row_hash
        |FROM snap""".stripMargin,
    "q57_dim_customer_hashed" ->
      """WITH snap AS (
        |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
        |         min(o_orderdate) AS first_purchase_date,
        |         max(o_orderdate) AS last_purchase_date,
        |         count(o_orderkey) AS total_transactions,
        |         CAST(round(coalesce(sum(CAST(o_totalprice AS DECIMAL(14,3))), CAST(0 AS DECIMAL(14,3))), 2) AS DOUBLE) AS total_spend
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1, 2, 3, 4)
        |SELECT c_custkey AS customer_id, c_name AS customer_name,
        |       c_mktsegment AS segment_attr, c_acctbal AS acctbal,
        |       CASE WHEN c_acctbal < 0 THEN 'Debt' WHEN c_acctbal < 2500 THEN 'Low'
        |            WHEN c_acctbal < 5000 THEN 'Mid' WHEN c_acctbal < 7500 THEN 'High'
        |            ELSE 'Premium' END AS balance_band,
        |       CASE WHEN total_transactions <= 1 THEN 'New'
        |            WHEN total_transactions <= 3 THEN 'Occasional'
        |            WHEN total_transactions <= 5 THEN 'Regular'
        |            ELSE 'Loyal' END AS customer_segment,
        |       first_purchase_date, last_purchase_date,
        |       total_transactions, total_spend,
        |       CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS customer_key,
        |       coalesce(first_purchase_date, TIMESTAMP '1990-01-01') AS effective_start_date,
        |       TIMESTAMP '9999-12-31' AS effective_end_date,
        |       TRUE AS is_current,
        |       CAST(1 AS BIGINT) AS version,
        |       md5(concat_ws('_', c_custkey, c_mktsegment, c_name)) AS row_hash
        |FROM snap""".stripMargin,
    "q11_scd2_merge" ->
      """WITH snap_a AS (
        |  SELECT c_custkey AS customer_id,
        |         CASE WHEN count(o_orderkey) <= 1 THEN 'New'
        |              WHEN count(o_orderkey) <= 3 THEN 'Occasional'
        |              WHEN count(o_orderkey) <= 5 THEN 'Regular'
        |              ELSE 'Loyal' END AS segment
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderdate < TIMESTAMP '1999-01-01'
        |  GROUP BY 1),
        |snap_b AS (
        |  SELECT c_custkey AS customer_id,
        |         CASE WHEN count(o_orderkey) <= 1 THEN 'New'
        |              WHEN count(o_orderkey) <= 3 THEN 'Occasional'
        |              WHEN count(o_orderkey) <= 5 THEN 'Regular'
        |              ELSE 'Loyal' END AS segment
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1),
        |a AS (SELECT customer_id, segment, md5(concat_ws('_', customer_id, segment)) AS row_hash FROM snap_a),
        |b AS (SELECT customer_id, segment, md5(concat_ws('_', customer_id, segment)) AS row_hash FROM snap_b),
        |j AS (SELECT coalesce(a.customer_id, b.customer_id) AS customer_id,
        |             a.segment AS seg_a, b.segment AS seg_b,
        |             a.row_hash AS hash_a, b.row_hash AS hash_b
        |      FROM a FULL OUTER JOIN b ON a.customer_id = b.customer_id)
        |SELECT customer_id, seg_b AS segment, CAST(1 AS BIGINT) AS version, TRUE AS is_current,
        |       TIMESTAMP '1999-01-01' AS effective_start_date,
        |       TIMESTAMP '9999-12-31' AS effective_end_date,
        |       'unchanged' AS change_type, hash_b AS row_hash
        |FROM j WHERE hash_a IS NOT NULL AND hash_b IS NOT NULL AND hash_a = hash_b
        |UNION ALL
        |SELECT customer_id, seg_a, CAST(1 AS BIGINT), FALSE,
        |       TIMESTAMP '1999-01-01', TIMESTAMP '2000-01-01', 'expired', hash_a
        |FROM j WHERE hash_a IS NOT NULL AND hash_b IS NOT NULL AND hash_a <> hash_b
        |UNION ALL
        |SELECT customer_id, seg_b, CAST(2 AS BIGINT), TRUE,
        |       TIMESTAMP '2000-01-01', TIMESTAMP '9999-12-31', 'changed', hash_b
        |FROM j WHERE hash_a IS NOT NULL AND hash_b IS NOT NULL AND hash_a <> hash_b
        |UNION ALL
        |SELECT customer_id, seg_b, CAST(1 AS BIGINT), TRUE,
        |       TIMESTAMP '2000-01-01', TIMESTAMP '9999-12-31', 'new', hash_b
        |FROM j WHERE hash_a IS NULL""".stripMargin)
}
