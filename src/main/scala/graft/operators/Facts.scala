package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Sinks, Tables}

/** Fact-table build (/root/reference/etl/transform.py:346-386): the
  * cleaned transactional grain joined to dimension surrogate keys, with
  * degenerate dimensions kept inline for query convenience.
  *
  * Scale notes:
  *  - the reference's positional `sales_key = range(1..n)`
  *    (transform.py:379) would force a global ordering; we derive a
  *    deterministic key from the natural composite key instead
  *    (orderkey*100 + linenumber) — embarrassingly parallel.
  *  - customer_key is [[Dimensions.hashKey]] of the natural key: the
  *    fact stamps the dim FK WITHOUT joining the dim at all (round 1
  *    joined dimCustomer, dragging its global row_number window into
  *    every fact build). The category dim still joins — its key is
  *    positional — but it is 6 rows, broadcast.
  *  - the lineitem⋈orders fact-fact join shuffles once on orderkey
  *    (sort-merge at scale, AQE-converted to broadcast at small SF).
  */
object Facts {

  /** Category dimension: distinct p_type with a deterministic hash
    * surrogate key (transform.py:283-306 analog — tiny dim, broadcast
    * everywhere; hashKey keeps even this 6-row build window-free), plus
    * the conformed `category_group` rollup the reference's
    * dim_product_category carries (analytical_queries.sql:34,40-41
    * joins it for the category-performance report) — same shared
    * classification as the cleaning layer, so the dim and the q02/q19
    * conformance agree by construction.
    */
  def dimCategory(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_type").as("category_name")).distinct()
      .withColumn("category_key", Dimensions.hashKey(col("category_name")))
      .withColumn("category_group", Cleaning.categoryGroup(col("category_name")))

  // ─── q12 fact_sales ──────────────────────────────────────────────────
  def factSales(spark: SparkSession, dir: String): DataFrame =
    factSalesFrom(
      Tables.lineitem(spark, dir),
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
      Tables.part(spark, dir).select(col("p_partkey"), col("p_type")))

  /** Frame-level fact builder — shared by the batch entry and the
    * streaming ingest twin (FactStream's stream-static join feeds a
    * lineitem STREAM through this same plan): the grain join, the
    * broadcast dim joins, and every derived column live here once, so
    * batch and streaming facts are definitionally identical.
    */
  def factSalesFrom(li: DataFrame, o: DataFrame, p: DataFrame): DataFrame = {
    val cat = p.select(col("p_type").as("category_name")).distinct()
      .withColumn("category_key", Dimensions.hashKey(col("category_name")))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(cat), col("p_type") === col("category_name"))
      .withColumn("customer_key", Dimensions.hashKey(col("o_custkey")))
      .select(
        (col("l_orderkey") * 100 + col("l_linenumber")).cast("long").as("sales_key"),
        col("l_orderkey").as("transaction_id"),
        col("l_linenumber").cast("long").as("line_number"),
        date_format(col("o_orderdate"), "yyyyMMdd").cast("long").as("date_key"),
        col("customer_key"),
        col("category_key"),
        col("l_partkey").as("part_key"),
        col("l_quantity").as("quantity"),
        col("l_extendedprice").as("price"),
        col("l_discount").as("discount"),
        // raw IEEE product (NOT rounded): per-row rounding of 2-decimal
        // inputs hits exact half-cent midpoints where engines disagree
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
          .as("net_amount"),
        col("o_custkey").as("customer_id"),
        col("p_type").as("product_category"),
        lit("lineitem_parquet").as("_source"))
  }

  // ─── q47 incremental (daily-DAG) fact load ───────────────────────────
  /** Date-sliced incremental fact load — the reference's DAILY
    * operating mode (dags/retail_etl_dag.py:1 `schedule_interval`
    * daily; load.py:195 WRITE_APPEND for fact/mart loads): day N's run
    * appends that day's slice to the standing warehouse instead of
    * rebuilding it. Re-expressed Spark-first as DYNAMIC PARTITION
    * OVERWRITE: the fact is partitioned by `month_key` (yyyyMM), and
    * each load rewrites ONLY the month partitions its slice touches. That makes
    * RE-RUNNING a slice
    * idempotent — the Airflow retry/backfill semantics WRITE_APPEND
    * alone does not have (a retried append double-counts; the
    * reference leans on BigQuery job idempotence for this).
    *
    * Scale: the slice filter is a `date_key` range — a predicate on a
    * projection of `o_orderdate`, so Catalyst pushes it through the
    * fact join to the ORDERS scan (lineitem arrives via the join — at
    * production scale both sides would be date-partitioned and the
    * range prunes partitions on read). The write shuffles nothing
    * extra: partitionBy splits files by the derived month column
    * within each task.
    */
  def loadFactIncrement(spark: SparkSession, dir: String, outPath: String,
                        fromKey: Long, toKey: Long): Long = {
    // Dynamic partition overwrite rewrites WHOLE partitions: a slice
    // whose bounds cut a month would silently drop the month's
    // already-loaded remainder (load day 2 of a month → day 1
    // vanishes). So we REQUIRE a day-01 start and a day-31+ end (a
    // past-the-end day like 19990231 is a legal numeric bound —
    // `between` on date_keys is inclusive-range arithmetic, not a
    // calendar).
    require(fromKey % 100 <= 1 && toKey % 100 >= 31,
      s"month-grain slice [$fromKey,$toKey] is not month-aligned " +
        "(fromKey must end in 00/01, toKey in 31+ or an open sentinel); " +
        "a mid-month bound would make dynamic overwrite drop the rest " +
        "of its month — slice on whole months")
    val partCol = "month_key"
    val slice = factSales(spark, dir)
      .filter(col("date_key").between(fromKey, toKey))
      .withColumn("month_key", floor(col("date_key") / 100).cast("long"))
    // Staged write + serialized partition swap (round 15, the r14
    // ADVICE medium item — and the PlanSweepSpec intermittent failure
    // it predicted): Spark does not support two concurrent writes into
    // ONE output root. Even with dynamic partition overwrite, both
    // jobs' underlying FileOutputCommitters run setupJob/commitJob
    // against the real root's shared `_temporary`, so the first
    // commit's cleanup can delete the second job's attempt dirs
    // mid-flight; and one load's read-back LISTING races the other
    // load's commit renames (observed: FileNotFoundException on a
    // month dir that vanished between the root enumeration and the
    // child listing). Each load therefore writes its slice to a
    // PRIVATE staging root (a hidden sibling of the table) — its own
    // committer, its own _temporary, full overlap for the expensive
    // fact-join compute — and only the cheap driver-side partition-dir
    // swap plus the read-back validate run under a per-target lock.
    // Values are identical: replacing each partition dir (Sinks.swap:
    // old aside, new in, old deleted) IS dynamic overwrite's commit,
    // performed serially.
    //
    // repartition on the partition column before the write: without it
    // every one of the write's tasks holds rows of every month and the
    // load emits (#months × #tasks) small files — measured 13s warm at
    // sf0.1 against ~3s with the exchange: a 1000-executor write must
    // bound its file count, and co-locating each partition's rows is how.
    // The width `w` is the session's shuffle width, explicit for the
    // FactStream.factStream reason: AQE coalesces a bare column
    // repartition of a small slice to ONE partition, and one task then
    // writes every month file. AQE never coalesces a stated width.
    val w = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val target = new org.apache.hadoop.fs.Path(outPath)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = Sinks.hiddenSibling(outPath)
    val partitionPred =
      col("month_key").between(fromKey / 100, toKey / 100) &&
        col("date_key").between(fromKey, toKey)
    try {
      slice.repartition(w, col(partCol))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy(partCol)
        .parquet(staging)
      commitLocks.computeIfAbsent(outPath, _ => new Object).synchronized {
        fs.mkdirs(target)
        fs.listStatus(new org.apache.hadoop.fs.Path(staging))
          .map(_.getPath.getName).filter(_.startsWith(s"$partCol="))
          .foreach(n => Sinks.swap(spark, s"$staging/$n", s"$outPath/$n"))
        // _SUCCESS parity with the former direct write: an EMPTY slice
        // is legal daily-DAG input (a day with no orders — it swaps no
        // partitions), and the explicit schema keeps the read-back
        // well-defined over a dir holding only the marker.
        fs.create(new org.apache.hadoop.fs.Path(target, "_SUCCESS"), true)
          .close()
        // read-back count (validate_load per increment), INSIDE the
        // lock so its listing can never observe another load's
        // half-swapped months. The month-range predicate is the
        // PARTITION filter: without it the date_key filter reads the
        // whole standing table per load (a full-warehouse scan per day
        // at production scale); with it the read prunes to the slice's
        // own partitions and the date filter refines within them.
        spark.read.schema(slice.schema).parquet(outPath)
          .filter(partitionPred).count()
      }
    } finally { fs.delete(new org.apache.hadoop.fs.Path(staging), true): Unit }
  }

  /** Per-target commit lock for [[loadFactIncrement]]: concurrent
    * disjoint-slice loads overlap their staged writes freely and
    * serialize only the partition swap + validate (see the staged-write
    * comment in the method).
    */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Warehouse path for the incrementally-loaded fact — fingerprint-
    * keyed to the orders source (like the LSH/IVF artifacts) so
    * regenerated data can't leave stale month partitions behind.
    */
  private def factIncPath(spark: SparkSession, dir: String): String =
    Sinks.artifactPath(spark, "fact_sales_inc", dir, "orders.parquet")

  /** q47 entry: build the fact warehouse INCREMENTALLY — two fixed
    * calendar slices covering the synthetic corpus's whole date span
    * (orders run 1995-2001 here), then RE-RUN the second slice (the
    * Airflow-retry case the dynamic overwrite exists for) — and return
    * the read-back table. The oracle is the FULL-REBUILD fact (q12's
    * SQL): hash equality proves incremental == rebuild AND that the
    * re-run did not double-count. Two slices keep the timed entry at
    * three loads (each load pays the fact join + the per-partition
    * commit protocol — the dominant cost at test SF); PipelineSpec
    * drives the longer 4-slice schedule including an empty slice.
    */
  def incrementalFact(spark: SparkSession, dir: String): DataFrame = {
    val out = factIncPath(spark, dir)
    // The first two slices touch DISJOINT month partitions, so they run
    // as concurrent jobs (guide §2.6's independent-date-partitions
    // case — a backfill runs exactly like this): each load writes to a
    // PRIVATE staging root and only the partition swap + validate
    // serialize on the per-target lock (see loadFactIncrement — the
    // earlier shared-root concurrent dynamic overwrite raced on
    // `_temporary` and on the read-back listing). The third load stays
    // SEQUENTIAL by design — it is the idempotent RE-RUN of a
    // sub-slice of load 2, which only demonstrates anything after
    // load 2 committed.
    Sinks.concurrently(Seq((0L, 19981231L), (19990101L, 99999999L))
      .map { case (a, b) => () => {
        spark.sparkContext.setJobDescription(s"q47 load [$a,$b]")
        loadFactIncrement(spark, dir, out, a, b)
      }}: _*)
    // idempotent re-run of a SUB-slice of an already-loaded range —
    // the backfill case: the date filter prunes the rebuild to the
    // year's rows and dynamic overwrite rewrites only its months
    loadFactIncrement(spark, dir, out, 20010101L, 99999999L)
    spark.read.parquet(out).drop("month_key")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q12_fact_sales" -> factSales,
    "q47_incremental_fact" -> incrementalFact)

  // q47's oracle is q12's: the incremental build must hash-match the
  // full rebuild exactly — one SQL string, two gates
  val oracle: Map[String, String] = Map(
    "q47_incremental_fact" -> factOracleSql,
    "q12_fact_sales" -> factOracleSql)

  /** stream_facts oracle: q12's fact rows plus the month partition key
    * FactStream lands the warehouse under — hash equality proves the
    * streamed warehouse equals the batch rebuild, month keys included.
    */
  private[graft] lazy val factStreamOracleSql: String =
    s"SELECT *, date_key // 100 AS month_key FROM (\n$factOracleSql\n)"

  private lazy val factOracleSql: String =
      """WITH cat AS (
        |  SELECT category_name,
        |         CAST(('0x' || substr(md5(category_name), 1, 15)) AS BIGINT) AS category_key
        |  FROM (SELECT DISTINCT p_type AS category_name FROM part))
        |SELECT CAST(l_orderkey * 100 + l_linenumber AS BIGINT) AS sales_key,
        |       l_orderkey AS transaction_id,
        |       CAST(l_linenumber AS BIGINT) AS line_number,
        |       CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT) AS date_key,
        |       CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS customer_key,
        |       cat.category_key,
        |       l_partkey AS part_key,
        |       l_quantity AS quantity,
        |       l_extendedprice AS price,
        |       l_discount AS discount,
        |       l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS net_amount,
        |       o_custkey AS customer_id,
        |       p_type AS product_category,
        |       'lineitem_parquet' AS _source
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN cat ON p_type = cat.category_name""".stripMargin
}
