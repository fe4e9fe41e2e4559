package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Money.{m2, out2, outRaw}
import graft.sources.{Fetch, Sinks, Tables}

/** Data cleaning, multi-source conforming, and validation gates —
  * the reference's transform-layer hygiene
  * (/root/reference/etl/transform.py:30-127) and the Airflow DAG's
  * validate_extract / validate_transform quality gates
  * (/root/reference/dags/retail_etl_dag.py:251-360).
  *
  * Scale: cleaning is a pure narrow projection (zero shuffle, full
  * codegen); validation computes every check in one aggregation pass per
  * table plus one anti-join for referential integrity.
  */
object Cleaning {

  // ─── q15 clean lineitem (transform.py:30-96) ─────────────────────────
  /** Filter invalid rows, clip out-of-range values, recompute the derived
    * amount, standardize flags, and attach an MD5 row hash for
    * change detection — the reference's clean_retail_sales semantics.
    */
  def cleanLineitem(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_quantity") > 0 && col("l_shipdate").isNotNull)
      .select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("line_number"),
        col("l_quantity"),
        col("l_extendedprice"),
        least(greatest(col("l_discount"), lit(0.0)), lit(0.5)).as("discount_clipped"),
        // raw IEEE product (NOT rounded): see Facts.factSales net_amount
        (col("l_extendedprice") * (lit(1.0) - least(greatest(col("l_discount"), lit(0.0)), lit(0.5)))
          * (lit(1.0) + col("l_tax"))).as("net_price"),
        upper(trim(col("l_returnflag"))).as("return_flag"),
        upper(trim(col("l_linestatus"))).as("line_status"),
        to_date(col("l_shipdate")).as("ship_date"),
        md5(concat_ws("_",
          col("l_orderkey"), col("l_linenumber"),
          date_format(col("l_shipdate"), "yyyy-MM-dd"))).as("row_hash"))
  }

  /** Keyword-driven category grouping (transform.py:316-333) — the
    * conformed category dim's classification, shared by q19's conform
    * and q02's category_group join.
    */
  def categoryGroup(categoryRaw: Column): Column =
    when(categoryRaw.isin("STANDARD", "ECONOMY"), "Value")
      .when(categoryRaw.isin("SMALL", "MEDIUM", "LARGE"), "General")
      .when(categoryRaw === "PROMO", "Promotional")
      .otherwise("Unknown")

  // ─── q19 multi-source conform (extract.py + transform.py:283-339) ────
  /** Conform two differently-shaped product sources into one catalog:
    * the part table (the reference's API catalog source) and a
    * sales-derived product list (the reference's CSV retail source),
    * unioned by name with source tagging and keyword-driven category
    * grouping (transform.py:316-333).
    */
  def multiSourceConform(spark: SparkSession, dir: String): DataFrame = {
    val catalog = Tables.part(spark, dir).select(
      col("p_partkey").as("product_id"),
      col("p_name").as("product_name"),
      col("p_type").as("category_raw"),
      col("p_retailprice").as("price"),
      lit("catalog_parquet").as("_source"))
    val salesSide = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("product_id"))
      // quantity-weighted unit price from exact decimal sums (raw division
      // — rounding a division creates engine-divergent midpoints)
      .agg((outRaw(sum(m2(col("l_extendedprice")))) /
        when(sum(col("l_quantity")) === 0.0, lit(null)).otherwise(sum(col("l_quantity")))).as("price"))
      .select(
        col("product_id"),
        lit(null).cast("string").as("product_name"),
        lit(null).cast("string").as("category_raw"),
        col("price"),
        lit("sales_derived").as("_source"))
    catalog.unionByName(salesSide)
      .withColumn("category_group", categoryGroup(col("category_raw")))
  }

  // ─── q34 API catalog with nested ratings (extract.py:62-100, sql:111-123) ─
  /** The reference's REST-API feed end-to-end: a JSON-lines product
    * source whose nested `rating {rate, count}` object is flattened
    * (extract.py:79-84) and joined into per-category catalog stats with
    * avg_rating / total_reviews — reference q7's full column surface
    * (analytical_queries.sql:111-123).
    *
    * The JSON side-file is synthesized deterministically from part
    * (rate = 1.0 + (key%40)/10, count = key*7%500+1) so the DuckDB
    * oracle can replay the identical values from part while the Spark
    * side genuinely exercises readJson + flattenStructs — schema-first
    * read (never infer on a lake), nested-struct projection, then one
    * map-side-combining aggregation. avg_rating accumulates in exact
    * DECIMAL so the result is parallelism-independent.
    */
  /** The flattened REST-API rating feed (product_id, rating_rate,
    * rating_count) — the JSON-lines side-file synthesized once per
    * source generation, then EXTRACTED through the injectable
    * [[graft.sources.Fetch.Fetcher]] seam (reference
    * extract.py:62-101: `requests.get(endpoint, timeout=30)` with the
    * DAG's bounded retries) when a fetcher is INJECTED — a production
    * deployment swaps an HTTP fetcher in here and the stage is live, no
    * operator change; that payload is driver-bounded by the REST
    * contract (a catalog API returns one bounded page). The DEFAULT
    * file-backed stand-in is NOT so bounded (it fakes a rating for
    * every part, so it scales with the catalog) and therefore reads
    * distributed via the ordinary JSON source reader instead of the
    * driver-string seam. Schema-first parse + struct flatten either
    * way. Shared by q34 (catalog stats) and q36 (price↔rating
    * correlation).
    */
  private[graft] def apiRatingsFeed(spark: SparkSession, dir: String,
      fetcher: Fetch.Fetcher = null): DataFrame = {
    // fingerprint-keyed like the other warehouse artifacts: the JSON
    // feed synthesizes once per source generation, not once per query,
    // and is claimed whole (staged, then renamed in), never torn
    val path = Sinks.artifactPath(spark, "api_products", dir, "part.parquet")
    Sinks.ensureBuilt(spark, path, "json")(
      Tables.part(spark, dir)
        .select(col("p_partkey").as("product_id"),
          struct(
            (lit(1.0) + (col("p_partkey") % 40).cast("double") / 10.0).as("rate"),
            ((col("p_partkey") * 7) % 500 + 1).as("count")).as("rating")))
    val schema = StructType.fromDDL(
      "product_id BIGINT, rating STRUCT<rate: DOUBLE, count: BIGINT>")
    // The Fetcher seam materializes ONE payload on the driver — correct
    // for a live REST endpoint (driver-bounded by the API contract), so
    // it engages only when a real fetcher is INJECTED. The file-backed
    // stand-in fakes a rating for every part, so it grows with the
    // catalog (~2M rows at sf10): that side reads DISTRIBUTED through
    // the ordinary schema-first JSON reader, never as a driver string.
    val feed = Option(fetcher) match {
      case Some(f) =>
        Fetch.readJsonPayload(spark, f, path, schema, "api_rest")
      case None =>
        Tables.readJson(spark, path, schema, "api_rest")
    }
    Tables.flattenStructs(feed)
      .select(col("product_id"), col("rating_rate"), col("rating_count"))
  }

  def catalogRatings(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val api = apiRatingsFeed(spark, dir)
    p.join(api, col("p_partkey") === col("product_id"))
      .groupBy(col("p_type").as("product_category"))
      .agg(
        count(lit(1)).as("product_count"),
        (out2(sum(m2(col("p_retailprice")))) / count(lit(1))).as("avg_price"),
        min(col("p_retailprice")).as("min_price"),
        max(col("p_retailprice")).as("max_price"),
        (sum(col("rating_rate").cast("decimal(4,1)")).cast("double") / count(lit(1)))
          .as("avg_rating"),
        sum(col("rating_count")).as("total_reviews"))
  }

  // ─── q37 API category-list endpoint (extract.py:103-127) ─────────────
  /** The reference's SECOND REST shape: the category-list endpoint
    * returns a TOP-LEVEL JSON ARRAY (extract.py:103-127 parses
    * `response.json()` as a list), not JSON-lines — fetched through
    * the [[graft.sources.Fetch.Fetcher]] seam as one document. The
    * list seeds category conforming: the output is the
    * reconciliation a conform stage reads — per category, catalog
    * presence/stats vs API presence, including API-only categories
    * (e.g. discontinued lines the catalog no longer carries) and the
    * keyword category_group classification.
    *
    * The feed synthesizes once per source generation
    * (fingerprint-keyed): sorted distinct catalog categories with
    * positional ids plus one API-only entry. The synthesis collect is
    * the category LIST itself — bounded exactly like the reference's
    * `requests.get().json()` payload, never row data.
    */
  def apiCategoryList(spark: SparkSession, dir: String): DataFrame =
    apiCategoryListVia(spark, dir, null)

  private[graft] def apiCategoryListVia(spark: SparkSession, dir: String,
      fetcher: Fetch.Fetcher): DataFrame = {
    val path = Sinks.artifactPath(spark, "api_categories", dir, "part.parquet") +
      "/categories.json"
    val p = Tables.part(spark, dir)
    Sinks.ensureFile(spark, path) {
      val cats = p.select(col("p_type")).distinct()
        .collect().map(_.getString(0)).sorted
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      val entries = cats.zipWithIndex.map { case (c, i) =>
        s"""  {"category_id": ${i + 1}, "category": "${esc(c)}"}"""
      } :+ s"""  {"category_id": ${cats.length + 1}, "category": "DISCONTINUED"}"""
      entries.mkString("[\n", ",\n", "\n]\n")
    }
    val schema = StructType.fromDDL("category_id BIGINT, category STRING")
    // the reference's SECOND REST shape — a top-level JSON array
    // (extract.py:103-127) — fetched through the same injectable seam
    val f = Option(fetcher).getOrElse(
      new Fetch.FileFetcher(spark.sessionState.newHadoopConf()))
    val api = Fetch.readJsonPayload(spark, f, path, schema, "api_rest")
      .select(col("category"), col("category_id"))
    val cat = p.groupBy(col("p_type").as("category"))
      .agg(
        count(lit(1)).as("n_products"),
        (out2(sum(m2(col("p_retailprice")))) / count(lit(1))).as("avg_price"))
    api.join(cat, Seq("category"), "full_outer")
      .select(
        col("category"), col("category_id"),
        coalesce(col("n_products"), lit(0L)).as("n_products"),
        col("avg_price"),
        col("category_id").isNotNull.as("in_api"),
        col("n_products").isNotNull.as("in_catalog"),
        categoryGroup(col("category")).as("category_group"))
  }

  // ─── q36 price↔rating correlation per category ───────────────────────
  /** The reference dashboard's price-vs-rating scatter
    * (streamlit_app.py:364-380; the rating object flattened at
    * etl/extract.py:79-84): Pearson correlation of catalog price against
    * API rating per category, over the q34 JSON rating feed. Uses the
    * q29 engine-stable explicit-sum formula — every component sum
    * accumulates in exact DECIMAL (partition-order-independent), and the
    * final float arithmetic is the identical expression both engines
    * evaluate on identical operands.
    */
  def priceRatingCorr(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val api = apiRatingsFeed(spark, dir)
    val rate = col("rating_rate").cast("decimal(4,1)")
    val m = p.join(api, col("p_partkey") === col("product_id"))
      .groupBy(col("p_type").as("product_category"))
      .agg(
        count(lit(1)).as("n"),
        outRaw(sum(m2(col("p_retailprice")))).as("sx"),
        outRaw(sum(rate)).as("sy"),
        outRaw(sum(m2(col("p_retailprice")) * m2(col("p_retailprice")))).as("sxx"),
        outRaw(sum(rate * rate)).as("syy"),
        outRaw(sum(m2(col("p_retailprice")) * rate)).as("sxy"))
    m.select(
      col("product_category"), col("n"),
      ((col("n") * col("sxy") - col("sx") * col("sy")) /
        when(sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
          sqrt(col("n") * col("syy") - col("sy") * col("sy")) === 0.0, lit(null))
          .otherwise(sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
        .as("price_rating_corr"))
  }

  // ─── q22 validation gates (retail_etl_dag.py:251-360) ────────────────
  /** All pipeline quality gates in one row: row counts, null checks,
    * duplicate-key checks, referential integrity, and value-range
    * violations — the DAG's validate tasks as a single declarative plan.
    */
  def validationGates(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)

    val liStats = li.agg(
      count(lit(1)).as("lineitem_rows"),
      sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("lineitem_bad_qty"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L).otherwise(0L))
        .as("lineitem_bad_discount"))
    val oStats = o.agg(
      count(lit(1)).as("orders_rows"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("orders_null_custkey"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("orders_dup_keys"))
    val cStats = c.agg(count(lit(1)).as("customer_rows"))
    val orphans = li.join(o.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("lineitem_orphans"))
    val custOrphans = o.join(c.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("orders_orphan_cust"))

    liStats.crossJoin(oStats).crossJoin(cStats).crossJoin(orphans).crossJoin(custOrphans)
      .withColumn("lines_per_order",
        col("lineitem_rows").cast("double") / col("orders_rows").cast("double"))
      .withColumn("all_gates_pass",
        col("lineitem_bad_qty") === 0 && col("orders_null_custkey") === 0 &&
          col("orders_dup_keys") === 0 && col("lineitem_orphans") === 0 &&
          col("orders_orphan_cust") === 0)
  }

  // ─── q30 order↔lineitem financial reconciliation ─────────────────────
  /** Cross-table amount reconciliation — the reference's discrepancy
    * check between recorded and computed amounts (transform.py:63-72
    * "Found N rows with amount discrepancies") lifted to the
    * order-vs-lineitem grain: per priority class, how many orders'
    * recorded totals agree with the exact-decimal sum of their line
    * charges, and how large the drift is.
    */
  def orderReconciliation(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Money._
    val li = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(charge(col("l_extendedprice"), col("l_discount"), col("l_tax"))).as("computed"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val j = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .withColumn("abs_diff", abs(m3(col("o_totalprice")) - col("computed")))
    j.groupBy(col("o_orderpriority").as("priority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(outRaw(col("abs_diff")) <= 0.011, 1L).otherwise(0L)).as("n_consistent"),
        sum(when(outRaw(col("abs_diff")) > 0.011, 1L).otherwise(0L)).as("n_mismatch"),
        out2(sum(m3(col("o_totalprice")))).as("total_recorded"),
        out2(sum(col("computed"))).as("total_computed"),
        out2(max(col("abs_diff"))).as("max_abs_diff"))
      .withColumn("drift_pct",
        (col("total_recorded") - col("total_computed")) / col("total_recorded") * 100)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q15_clean_lineitem" -> cleanLineitem,
    "q19_multi_source_conform" -> multiSourceConform,
    "q34_api_catalog_ratings" -> catalogRatings,
    "q36_price_rating_corr" -> priceRatingCorr,
    "q37_api_category_list" -> apiCategoryList,
    "q22_validation_gates" -> validationGates,
    "q30_order_reconciliation" -> orderReconciliation)

  val oracle: Map[String, String] = Map(
    "q34_api_catalog_ratings" ->
      """WITH api AS (
        |  SELECT p_partkey AS product_id,
        |         1.0 + (p_partkey % 40) / 10.0 AS rating_rate,
        |         (p_partkey * 7) % 500 + 1 AS rating_count
        |  FROM part),
        |j AS (
        |  SELECT p_type, p_retailprice, rating_rate, rating_count
        |  FROM part JOIN api ON p_partkey = product_id)
        |SELECT p_type AS product_category,
        |       count(*) AS product_count,
        |       CAST(round(sum(CAST(p_retailprice AS DECIMAL(12,2))), 2) AS DOUBLE)
        |         / count(*) AS avg_price,
        |       min(p_retailprice) AS min_price,
        |       max(p_retailprice) AS max_price,
        |       CAST(sum(CAST(rating_rate AS DECIMAL(4,1))) AS DOUBLE) / count(*) AS avg_rating,
        |       CAST(sum(rating_count) AS BIGINT) AS total_reviews
        |FROM j GROUP BY 1""".stripMargin,
    "q36_price_rating_corr" ->
      """WITH api AS (
        |  SELECT p_partkey AS product_id,
        |         1.0 + (p_partkey % 40) / 10.0 AS rating_rate
        |  FROM part),
        |m AS (
        |  SELECT p_type AS product_category,
        |         count(*) AS n,
        |         CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(rating_rate AS DECIMAL(4,1))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(p_retailprice AS DECIMAL(12,2)) * CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(rating_rate AS DECIMAL(4,1)) * CAST(rating_rate AS DECIMAL(4,1))) AS DOUBLE) AS syy,
        |         CAST(sum(CAST(p_retailprice AS DECIMAL(12,2)) * CAST(rating_rate AS DECIMAL(4,1))) AS DOUBLE) AS sxy
        |  FROM part JOIN api ON p_partkey = product_id
        |  GROUP BY 1)
        |SELECT product_category, n,
        |       (n * sxy - sx * sy)
        |         / nullif(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), 0) AS price_rating_corr
        |FROM m""".stripMargin,
    "q37_api_category_list" ->
      """WITH api AS (
        |  SELECT CAST(row_number() OVER (ORDER BY p_type) AS BIGINT) AS category_id,
        |         p_type AS category
        |  FROM (SELECT DISTINCT p_type FROM part)
        |  UNION ALL
        |  SELECT CAST((SELECT count(DISTINCT p_type) FROM part) + 1 AS BIGINT),
        |         'DISCONTINUED'),
        |cat AS (
        |  SELECT p_type AS category, count(*) AS n_products,
        |         CAST(round(sum(CAST(p_retailprice AS DECIMAL(12,2))), 2) AS DOUBLE)
        |           / count(*) AS avg_price
        |  FROM part GROUP BY 1)
        |SELECT coalesce(api.category, cat.category) AS category,
        |       api.category_id,
        |       CAST(coalesce(cat.n_products, 0) AS BIGINT) AS n_products,
        |       cat.avg_price,
        |       api.category_id IS NOT NULL AS in_api,
        |       cat.n_products IS NOT NULL AS in_catalog,
        |       CASE WHEN coalesce(api.category, cat.category) IN ('STANDARD', 'ECONOMY') THEN 'Value'
        |            WHEN coalesce(api.category, cat.category) IN ('SMALL', 'MEDIUM', 'LARGE') THEN 'General'
        |            WHEN coalesce(api.category, cat.category) = 'PROMO' THEN 'Promotional'
        |            ELSE 'Unknown' END AS category_group
        |FROM api FULL JOIN cat ON api.category = cat.category""".stripMargin,
    "q30_order_reconciliation" ->
      """WITH li AS (
        |  SELECT l_orderkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |             * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
        |             * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS computed
        |  FROM lineitem GROUP BY 1),
        |j AS (
        |  SELECT o_orderpriority AS priority,
        |         CAST(o_totalprice AS DECIMAL(14,3)) AS tp,
        |         computed,
        |         abs(CAST(o_totalprice AS DECIMAL(14,3)) - computed) AS abs_diff
        |  FROM orders JOIN li ON o_orderkey = l_orderkey),
        |m AS (
        |  SELECT priority,
        |         count(*) AS n_orders,
        |         CAST(coalesce(sum(CASE WHEN CAST(abs_diff AS DOUBLE) <= 0.011 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_consistent,
        |         CAST(coalesce(sum(CASE WHEN CAST(abs_diff AS DOUBLE) > 0.011 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_mismatch,
        |         CAST(round(sum(tp), 2) AS DOUBLE) AS total_recorded,
        |         CAST(round(sum(computed), 2) AS DOUBLE) AS total_computed,
        |         CAST(round(max(abs_diff), 2) AS DOUBLE) AS max_abs_diff
        |  FROM j GROUP BY 1)
        |SELECT *,
        |       (total_recorded - total_computed) / total_recorded * 100 AS drift_pct
        |FROM m""".stripMargin,
    "q15_clean_lineitem" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_number,
        |       l_quantity, l_extendedprice,
        |       least(greatest(l_discount, 0.0), 0.5) AS discount_clipped,
        |       l_extendedprice * (1.0 - least(greatest(l_discount, 0.0), 0.5))
        |             * (1.0 + l_tax) AS net_price,
        |       upper(trim(l_returnflag)) AS return_flag,
        |       upper(trim(l_linestatus)) AS line_status,
        |       CAST(l_shipdate AS DATE) AS ship_date,
        |       md5(concat_ws('_', l_orderkey, l_linenumber,
        |                     strftime(l_shipdate, '%Y-%m-%d'))) AS row_hash
        |FROM lineitem
        |WHERE l_quantity > 0 AND l_shipdate IS NOT NULL""".stripMargin,
    "q19_multi_source_conform" ->
      """WITH unioned AS (
        |  SELECT p_partkey AS product_id, p_name AS product_name,
        |         p_type AS category_raw, p_retailprice AS price,
        |         'catalog_parquet' AS _source
        |  FROM part
        |  UNION ALL
        |  SELECT l_partkey AS product_id, CAST(NULL AS VARCHAR) AS product_name,
        |         CAST(NULL AS VARCHAR) AS category_raw,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |           / nullif(sum(l_quantity), 0) AS price,
        |         'sales_derived' AS _source
        |  FROM lineitem GROUP BY 1)
        |SELECT *,
        |       CASE WHEN category_raw IN ('STANDARD', 'ECONOMY') THEN 'Value'
        |            WHEN category_raw IN ('SMALL', 'MEDIUM', 'LARGE') THEN 'General'
        |            WHEN category_raw = 'PROMO' THEN 'Promotional'
        |            ELSE 'Unknown' END AS category_group
        |FROM unioned""".stripMargin,
    "q22_validation_gates" ->
      """SELECT
        |  (SELECT count(*) FROM lineitem) AS lineitem_rows,
        |  (SELECT CAST(coalesce(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem) AS lineitem_bad_qty,
        |  (SELECT CAST(coalesce(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem) AS lineitem_bad_discount,
        |  (SELECT count(*) FROM orders) AS orders_rows,
        |  (SELECT CAST(coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders) AS orders_null_custkey,
        |  (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) AS orders_dup_keys,
        |  (SELECT count(*) FROM customer) AS customer_rows,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS lineitem_orphans,
        |  (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS orders_orphan_cust,
        |  CAST((SELECT count(*) FROM lineitem) AS DOUBLE)
        |        / CAST((SELECT count(*) FROM orders) AS DOUBLE) AS lines_per_order,
        |  (SELECT CAST(coalesce(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem) = 0
        |    AND (SELECT CAST(coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders) = 0
        |    AND (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) = 0
        |    AND (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) = 0
        |    AND (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) = 0
        |    AS all_gates_pass""".stripMargin)
}
