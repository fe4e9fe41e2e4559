package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Sinks

/** End-to-end warehouse build — the reference's orchestrator
  * (/root/reference/etl/pipeline.py + dags/retail_etl_dag.py): run the
  * full extract→transform→load flow (staging, dims, fact, marts) into a
  * parquet warehouse directory, gate on validation, and return per-table
  * row-count stats plus a run log (the reference's etl_run_log /
  * pipeline-summary XCom payload).
  *
  * Every stage is a lazy plan until its single write action — no
  * intermediate collects; stages share scan/aggregation work only
  * through the declarative plans, letting Catalyst dedupe and AQE size
  * each write's shuffles independently.
  */
object Pipeline {

  case class LoadStat(table: String, rows: Long, seconds: Double)

  /** Stage selection — the reference CLI's `--extract-only` /
    * `--skip-load` modes (pipeline.py argument surface).
    */
  sealed trait Mode
  case object FullRun extends Mode
  case object SkipMarts extends Mode   // dims + fact only (≈ --skip-load)
  case object StagingOnly extends Mode // cleaned staging only (≈ --extract-only)
  /** The LLM-data curation warehouse: per-doc quality, the near-dup
    * removal lists (Jaccard, SimHash, and embedding-space SemDeDup
    * routes), transitive clusters, the 13-gram decontamination
    * keep-list, the post-dedup mixture table, the per-source funnel,
    * the boilerplate census, the PII release gate, the train/val/test
    * stamp, and the DSIR selection weights — the tables a
    * training-data build reads, published with the same
    * stage/validate/notify machinery as the retail build.
    * (The LSH candidate and verified-pair artifacts these stages probe
    * are warehouse-level caches keyed to the source — built once by the
    * first stage that needs them, shared by the rest.)
    */
  case object CurationRun extends Mode

  // thunks, not DataFrames: plan construction itself can throw (missing
  // source path resolves at read time), and the failure log must
  // attribute that to the STAGE, not to whatever ran before it
  private def stageList(spark: SparkSession, sfDir: String,
                        mode: Mode): Seq[(String, () => DataFrame)] = {
    val staging: Seq[(String, () => DataFrame)] = Seq(
      "stg_lineitem_clean" -> (() => Cleaning.cleanLineitem(spark, sfDir)))
    val core: Seq[(String, () => DataFrame)] = Seq(
      "dim_date" -> (() => Dimensions.dimDate(spark, sfDir)),
      "dim_customer" -> (() => Dimensions.dimCustomerHashed(spark, sfDir)),
      "dim_category" -> (() => Facts.dimCategory(spark, sfDir)),
      // the SCD2 product dim (load.py loads dim_product alongside the
      // other dims; the catalog-overview report reads it) — published
      // so the reference's product SQL has its table
      "dim_product" -> (() => Dimensions.dimProduct(spark, sfDir)),
      "fact_sales" -> (() => Facts.factSales(spark, sfDir)))
    val marts: Seq[(String, () => DataFrame)] = Seq(
      "mart_sales_performance" -> (() => Marts.martSalesPerformance(spark, sfDir)),
      "mart_category_analysis" -> (() => Marts.martCategoryAnalysis(spark, sfDir)))
    val curation: Seq[(String, () => DataFrame)] = Seq(
      "corpus_quality" -> (() => TextAnalysis.qualityScore(spark, sfDir)),
      "dedup_removals" -> (() => Dedup.dedupPipeline(spark, sfDir)),
      // the SimHash route catches bit-level token-profile near-dups the
      // Jaccard route misses — production unions both removal lists
      "simhash_removals" -> (() => Dedup.simhashDedup(spark, sfDir)),
      "dup_clusters" -> (() => Dedup.dupClusters(spark, sfDir)),
      "decontamination" -> (() => Dedup.ngramContamination(spark, sfDir)),
      "effective_mixture" -> (() => Dedup.effectiveMixture(spark, sfDir)),
      "curation_funnel" -> (() => Dedup.curationFunnel(spark, sfDir)),
      // per-shard incremental dedup report (the d19 probe on the demo
      // split) — the table an arriving crawl shard's keep decisions
      // read
      "shard_dedup_report" -> (() => Dedup.shardDedup(spark, sfDir)),
      // the embedding-space route (SemDeDup): paraphrase/translation
      // near-dups the token-level routes structurally miss
      "semantic_removals" -> (() => Similarity.semanticDedup(spark, sfDir)),
      // crawl-cleaning census: cross-doc repeated 8-token windows
      "boilerplate_census" -> (() => TextAnalysis.boilerplateCensus(spark, sfDir)),
      // the release gate: PII match counts + redacted text per doc
      "pii_scrub" -> (() => TextAnalysis.piiScrub(spark, sfDir)),
      // fingerprint-keyed train/val/test stamp: exact dups co-split
      "corpus_splits" -> (() => TextAnalysis.hashSplit(spark, sfDir)),
      // DSIR importance weights: the quality-targeted selection signal
      // the mixture/budget samplers resample by
      "dsir_weights" -> (() => TextAnalysis.dsirWeights(spark, sfDir)),
      // the end product: non-bench docs surviving the dual-route dedup
      // union (d21) and the 13-gram decontamination (d13), stamped with
      // the t15 fold + raw-text token count — what a training run
      // reads. The semantic route and the PII gate publish alongside
      // but deliberately do NOT feed this export: semantic_removals is
      // keyed by vec_id (the embeddings table's id space, joined to
      // docs only where a vector exists), and pii_scrub is a read-time
      // redaction gate — consumers read clean_text, so the export's
      // token counts stay raw-text and stable across regex revisions
      "training_corpus" -> (() => Dedup.trainingCorpus(spark, sfDir)))
    mode match {
      case StagingOnly => staging
      case SkipMarts => staging ++ core
      case FullRun => staging ++ core ++ marts
      case CurationRun => curation
    }
  }

  /** Register every published artifact under `outDir` as a temp view
    * named after its table, so the reference's SQL surface
    * (sql/analytical_queries.sql — its users consume the warehouse
    * through `SELECT ... FROM fact_sales` etc., not through a builder
    * API) works out of the box:
    * `Pipeline.registerWarehouse(spark, outDir)` then
    * `spark.sql("SELECT ... FROM fact_sales JOIN dim_date ...")`.
    *
    * Scope: session-scoped temp views over the parquet paths — a
    * metadata-only operation (no scan happens until a query runs, and
    * Catalyst still prunes columns/partitions through the view).
    * Internal non-table directories (`_run_logs`, the `dedup_index`
    * artifact family) are skipped: underscore-prefixed names by rule,
    * anything else by a read-probe of its parquet footer. Returns the
    * registered names in sorted order.
    */
  def registerWarehouse(spark: SparkSession, outDir: String): Seq[String] =
    listPublishedTables(spark, outDir).filter { n =>
      scala.util.Try {
        spark.read.parquet(s"$outDir/$n").createOrReplaceTempView(n)
      }.isSuccess
    }

  /** The directory-to-table rule both registration surfaces share:
    * a published table is a non-underscore-prefixed directory under
    * the warehouse root whose parquet footer reads. Sorted names.
    */
  private def listPublishedTables(spark: SparkSession, outDir: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root),
      s"registerWarehouse: warehouse dir unreachable: $outDir")
    fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(_.startsWith("_"))
      .sorted
  }

  /** Catalog-backed registration — the persistent-metastore deployment
    * story [[registerWarehouse]]'s temp views can't give: each published
    * artifact becomes an EXTERNAL table (`USING parquet LOCATION`) in
    * `database`, so the warehouse is queryable from every session that
    * shares the catalog (and, under a Hive metastore, from every
    * APPLICATION) with zero per-session setup — the reference's
    * BigQuery-dataset consumption model (load.py publishes datasets
    * any authorized client queries; bigquery_schema.sql is the DDL).
    *
    * Semantics chosen for the republish cycle:
    *  - EXTERNAL (location-pinned), so registration never copies data
    *    and `DROP TABLE` never deletes the parquet — the pipeline owns
    *    the files, the catalog only points at them;
    *  - re-registration is drop-then-create, because the catalog pins
    *    the schema it inferred at CREATE time: a republished artifact
    *    with a drifted schema would otherwise keep serving the STALE
    *    column list forever (the exact failure mode
    *    [[schemaContracts]] exists to catch). Drop+create re-infers.
    *
    * Like the view path this is metadata-only — no scan until a query
    * runs, and pruning/pushdown reach the files through the catalog
    * relation identically. Returns the registered names sorted; callers
    * typically follow with `spark.sql(s"USE $database")` so the
    * reference SQL's unqualified table names resolve (NB: a same-named
    * TEMP VIEW in a session still shadows the catalog table there —
    * new sessions have none, which is the point).
    *
    * PARTITIONED artifacts (Hive `col=value` layout — the q47
    * incremental fact's month partitions, or any Sinks publish with
    * `partitionedBy`): `CREATE TABLE ... USING parquet LOCATION`
    * infers the partition COLUMN from the layout but registers an
    * EMPTY partition set — the catalog relation serves ZERO ROWS
    * until the partitions are recovered (measured directly; the
    * datasource-table partition metadata is catalog-managed, not
    * re-listed per query). So registration detects the layout and
    * runs `MSCK REPAIR TABLE` — after which the metastore prunes
    * partitions BEFORE file listing (the scan's file index holds only
    * the matching `col=value` paths), which is the point of a
    * partitioned deployment at 100 TB: a month-sliced query touches
    * the month's directory, not a warehouse-wide listing.
    */
  def registerWarehouseCatalog(spark: SparkSession, outDir: String,
                               database: String = "graft"): Seq[String] = {
    require(database.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"registerWarehouseCatalog: unsafe database name: $database")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$database`")
    val conf = spark.sessionState.newHadoopConf()
    listPublishedTables(spark, outDir).filter { n =>
      scala.util.Try {
        // probe the footer BEFORE touching the catalog so a non-table
        // directory never leaves a half-registered entry behind
        spark.read.parquet(s"$outDir/$n").schema
        val p = new org.apache.hadoop.fs.Path(s"$outDir/$n")
        val fs = p.getFileSystem(conf)
        val loc = fs.makeQualified(p).toUri.toString
        spark.sql(s"DROP TABLE IF EXISTS `$database`.`$n`")
        spark.sql(
          s"CREATE TABLE `$database`.`$n` USING parquet LOCATION '$loc'")
        // Hive-layout children ⇒ partitioned table ⇒ the catalog's
        // partition set starts EMPTY; recover it or serve zero rows
        val partitioned = fs.listStatus(p).exists(st =>
          st.isDirectory && st.getPath.getName.matches("[A-Za-z_][A-Za-z0-9_]*=.*"))
        if (partitioned) spark.sql(s"MSCK REPAIR TABLE `$database`.`$n`")
      }.isSuccess
    }
  }

  /** Pre-run gate for the curation build (validate_extract analog over
    * the corpus instead of the retail tables): non-empty, no null ids
    * or text, unique doc ids. One aggregation pass.
    */
  private def corpusGatesPass(spark: SparkSession, sfDir: String): Boolean = {
    val r = graft.sources.Tables.documents(spark, sfDir)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("doc_id").isNull || col("text").isNull, 1L).otherwise(0L)).as("bad"),
        countDistinct(col("doc_id")).as("ids"))
      .collect().head
    r.getAs[Long]("n") > 0 && r.getAs[Long]("bad") == 0 &&
      r.getAs[Long]("ids") == r.getAs[Long]("n")
  }

  /** The validate_extract gate for `mode`: the corpus gates for the
    * curation build, the retail validation gates otherwise.
    */
  private def requireGates(spark: SparkSession, sfDir: String, mode: Mode): Unit =
    mode match {
      case CurationRun => require(corpusGatesPass(spark, sfDir),
        "corpus gates failed — aborting load (dag: validate_extract)")
      case _ => require(Cleaning.validationGates(spark, sfDir)
          .select(col("all_gates_pass")).collect().head.getBoolean(0),
        "validation gates failed — aborting load (dag: validate_extract)")
    }

  /** Pre-flight reachability gate — the reference DAG's
    * `task_health_check` (dags/retail_etl_dag.py:101): the source dir
    * must exist and hold every table the selected mode reads, and the
    * warehouse dir must be creatable, checked BEFORE any stage plans —
    * a dead mount or typo'd path fails in milliseconds with a pointed
    * message instead of mid-load with a stack from the middle of a
    * write. Pure filesystem metadata — no Spark job is launched.
    */
  def healthCheck(spark: SparkSession, sfDir: String, outDir: String,
                  mode: Mode = FullRun): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val required = mode match {
      // embeddings feed the semantic (SemDeDup) removal stage
      case CurationRun => Seq("documents.parquet", "embeddings.parquet")
      case StagingOnly => Seq("lineitem.parquet")
      case _ => Seq("lineitem.parquet", "orders.parquet",
        "customer.parquet", "part.parquet")
    }
    val src = new org.apache.hadoop.fs.Path(sfDir)
    val fs = src.getFileSystem(conf)
    require(fs.exists(src),
      s"health check failed (dag: task_health_check): source dir unreachable: $sfDir")
    val missing = required.filterNot(t =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$sfDir/$t")))
    require(missing.isEmpty,
      s"health check failed (dag: task_health_check): missing source tables " +
        s"${missing.mkString(", ")} under $sfDir")
    val out = new org.apache.hadoop.fs.Path(outDir)
    val ofs = out.getFileSystem(conf)
    require(ofs.mkdirs(out) || ofs.exists(out),
      s"health check failed (dag: task_health_check): warehouse dir not creatable: $outDir")
  }

  /** Publish the run log as a warehouse artifact under
    * `outDir/_run_logs/<runId>` (the reference's etl_run_log table) so
    * an operator can tail run history — and so [[cleanupOldLogs]] has a
    * canonical place to sweep.
    */
  def writeRunLog(spark: SparkSession, stats: Seq[LoadStat], runId: String,
                  outDir: String): Unit =
    Sinks.publish(runLog(spark, stats, runId).coalesce(1), s"$outDir/_run_logs/$runId"): Unit

  /** Retention sweep — the reference DAG's `cleanup_old_logs`
    * (dags/retail_etl_dag.py:638): delete run-log artifacts (and a
    * lingering `_failure_log`) whose filesystem mtime is older than
    * `maxAgeMs`. Returns the deleted paths so the caller's own run log
    * can record what the sweep removed. Metadata-only; never touches
    * published tables.
    */
  def cleanupOldLogs(spark: SparkSession, outDir: String, maxAgeMs: Long,
                     now: Long = System.currentTimeMillis()): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val logsDir = new org.apache.hadoop.fs.Path(s"$outDir/_run_logs")
    val fs = logsDir.getFileSystem(conf)
    val cutoff = now - maxAgeMs
    val runLogs =
      if (fs.exists(logsDir)) fs.listStatus(logsDir).toSeq else Seq.empty
    val failure = new org.apache.hadoop.fs.Path(s"$outDir/_failure_log")
    val failureStatus =
      if (fs.exists(failure)) Seq(fs.getFileStatus(failure)) else Seq.empty
    (runLogs ++ failureStatus)
      .filter(_.getModificationTime < cutoff)
      .map { st => fs.delete(st.getPath, true); st.getPath.toString }
  }

  case class LoadCheck(table: String, expected_rows: Long, actual_rows: Long,
                       ok: Boolean, schema_ok: Boolean = true,
                       schema_diff: String = "")

  /** Declared (column → type) contract per published retail-star table
    * — the analog of the reference's bigquery_schema.sql:1-172, which
    * pins every warehouse column's name and type at load time. The
    * row-count gate alone cannot catch a silent type drift (a builder
    * change narrowing a key to int, a timestamp becoming a string):
    * the drifted table re-reads with the same count and every
    * downstream join quietly miscompares. [[validateLoad]] checks each
    * published table against its contract ORDER-SENSITIVELY (a
    * reordered column list is also drift — position-based consumers
    * exist). Scope matches the reference schema file: the retail star
    * + staging; the curation tables' schemas are pinned per-query by
    * the oracle discipline instead.
    */
  val schemaContracts: Map[String, Seq[(String, String)]] = Map(
    "stg_lineitem_clean" -> Seq(
      "l_orderkey" -> "bigint", "line_number" -> "bigint",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "discount_clipped" -> "double", "net_price" -> "double",
      "return_flag" -> "string", "line_status" -> "string",
      "ship_date" -> "date", "row_hash" -> "string"),
    "dim_date" -> Seq(
      "date_key" -> "bigint", "full_date" -> "date", "year" -> "bigint",
      "quarter" -> "bigint", "month" -> "bigint", "month_name" -> "string",
      "week_of_year" -> "bigint", "day_of_month" -> "bigint",
      "day_of_week" -> "bigint", "day_name" -> "string",
      "is_weekend" -> "boolean", "fiscal_year" -> "bigint",
      "fiscal_quarter" -> "bigint"),
    "dim_customer" -> Seq(
      "customer_id" -> "bigint", "customer_name" -> "string",
      "segment_attr" -> "string", "acctbal" -> "double",
      "balance_band" -> "string", "customer_segment" -> "string",
      "first_purchase_date" -> "timestamp_ntz",
      "last_purchase_date" -> "timestamp_ntz",
      "total_transactions" -> "bigint", "total_spend" -> "double",
      "customer_key" -> "bigint",
      "effective_start_date" -> "timestamp_ntz",
      "effective_end_date" -> "timestamp_ntz",
      "is_current" -> "boolean", "version" -> "bigint",
      "row_hash" -> "string"),
    "dim_category" -> Seq(
      "category_name" -> "string", "category_key" -> "bigint",
      "category_group" -> "string"),
    "dim_product" -> Seq(
      "product_id" -> "bigint", "product_name" -> "string",
      "product_category" -> "string", "price" -> "double",
      "version" -> "bigint", "is_current" -> "boolean",
      "effective_start_date" -> "timestamp_ntz",
      "effective_end_date" -> "timestamp_ntz",
      "change_type" -> "string", "row_hash" -> "string"),
    "fact_sales" -> Seq(
      "sales_key" -> "bigint", "transaction_id" -> "bigint",
      "line_number" -> "bigint", "date_key" -> "bigint",
      "customer_key" -> "bigint", "category_key" -> "bigint",
      "part_key" -> "bigint", "quantity" -> "double",
      "price" -> "double", "discount" -> "double",
      "net_amount" -> "double", "customer_id" -> "bigint",
      "product_category" -> "string", "_source" -> "string"),
    "mart_sales_performance" -> Seq(
      "year" -> "bigint", "month" -> "bigint", "month_name" -> "string",
      "total_revenue" -> "double", "total_quantity" -> "double",
      "total_lines" -> "bigint", "unique_parts" -> "bigint",
      "avg_line_value" -> "double", "revenue_prev_month" -> "double",
      "revenue_growth_pct" -> "double"),
    "mart_category_analysis" -> Seq(
      "product_category" -> "string", "total_revenue" -> "double",
      "revenue_share_pct" -> "double", "total_transactions" -> "bigint",
      "total_quantity" -> "double", "avg_price" -> "double",
      "unique_customers" -> "bigint", "avg_acctbal" -> "double",
      "automobile_revenue_pct" -> "double",
      "building_revenue_pct" -> "double"))

  /** Post-load validation — the reference DAG's `validate_load` task
    * (dags/retail_etl_dag.py:394-441), which re-reads the LOADED tables
    * and compares their row counts against what transform produced:
    * re-read each PUBLISHED artifact, compare against the count its
    * own write observed (`Sinks.stage` never reads the staged copy
    * back, so this is the one read of the published files), AND check
    * the served schema against [[schemaContracts]].
    * The pre-write gate proves the INPUT was sound; this proves the
    * warehouse actually serves what the run claims it wrote (a partial
    * or clobbered publish passes every pre-write check; a type drift
    * passes even the row-count re-read).
    */
  def validateLoad(spark: SparkSession, outDir: String,
                   stats: Seq[LoadStat]): Seq[LoadCheck] =
    stats.map { s =>
      try {
        val df = spark.read.parquet(s"$outDir/${s.table}")
        val got = df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)
        val (schemaOk, diff) = schemaContracts.get(s.table) match {
          case Some(want) if got != want =>
            val bad = (want.diff(got) ++ got.diff(want)).map {
              case (n, t) => s"$n:$t"
            }.distinct
            (false, s"drifted columns: ${bad.mkString(", ")}")
          case _ => (true, "")
        }
        val actual = df.count()
        LoadCheck(s.table, s.rows, actual, actual == s.rows, schemaOk, diff)
      } catch {
        case _: Throwable =>
          LoadCheck(s.table, s.rows, -1L, ok = false,
            schema_ok = false, schema_diff = "unreadable")
      }
    }

  private def requireLoadsValid(spark: SparkSession, outDir: String,
                                stats: Seq[LoadStat]): Unit = {
    val bad = validateLoad(spark, outDir, stats)
      .filterNot(c => c.ok && c.schema_ok)
    require(bad.isEmpty,
      "post-load validation failed (dag: validate_load): " +
        bad.map { c =>
          val rows = s"${c.table} expected=${c.expected_rows} actual=${c.actual_rows}"
          if (c.schema_ok) rows else s"$rows [schema: ${c.schema_diff}]"
        }.mkString("; "))
  }

  /** Build the whole warehouse under `outDir`. Returns load stats in
    * execution order (the reference's pipeline summary); fails if any
    * published artifact does not re-read as written (validate_load).
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          validateFirst: Boolean = true, mode: Mode = FullRun): Seq[LoadStat] =
    build(spark, sfDir, outDir, validateFirst, mode)

  /** The one build loop: health check, the validate_extract gate, one
    * [[Sinks.publish]] per stage, then validate_load. `onStage` hears
    * each step's name before it runs; `onStat` each stage's stat once
    * it has published.
    */
  private def build(spark: SparkSession, sfDir: String, outDir: String,
                    validateFirst: Boolean, mode: Mode,
                    onStage: String => Unit = _ => (),
                    onStat: LoadStat => Unit = _ => ()): Seq[LoadStat] = {
    healthCheck(spark, sfDir, outDir, mode)
    onStage("validate_extract")
    if (validateFirst) requireGates(spark, sfDir, mode)
    val stats = stageList(spark, sfDir, mode).map { case (name, mkDf) =>
      timedStep(name, onStage, onStat)(Sinks.publish(mkDf(), s"$outDir/$name"))
    }
    // a mismatch here attributes the failure to the post-load gate,
    // with every completed stage counted
    onStage("validate_load")
    requireLoadsValid(spark, outDir, stats)
    stats
  }

  /** One arriving slice of the composed daily schedule: a `date_key`
    * range of new transactions and, optionally, the ids of the
    * document and embedding shards that arrived with it (None = a day
    * with no new docs / vectors).
    */
  case class DailySlice(fromKey: Long, toKey: Long,
                        docShard: Option[Int] = None,
                        vecShard: Option[Int] = None)

  /** The COMPOSED incremental scheduler — what the reference's daily
    * DAG actually executes end-to-end (dags/retail_etl_dag.py:1 daily
    * `schedule_interval`): per arriving slice, chain
    *
    *  1. a q47-style fact increment — the slice's date range loaded
    *     into the standing fact warehouse by dynamic partition
    *     overwrite (Facts.loadFactIncrement, idempotent on retry), and
    *  2. a d19-style shard-dedup probe — the slice's document shard
    *     publishing its index tier (one bands + shingle-set row per
    *     doc), probing the GROWING standing index and publishing its
    *     removal tier (Dedup.shardIngest),
    *  3. a q51-style vector ingest — the slice's embedding shard
    *     bootstrapping the codebook (first shard) or assigning to it
    *     on arrival (Similarity.vecShardIngest),
    *
    * then refresh the published `dedup_removals_standing` curation
    * table (the keep-min union every downstream consumer reads). After
    * the full schedule the warehouse is EXACTLY what one full rebuild
    * would have produced — PipelineSpec pins both sides (fact == q12
    * rebuild, standing removals == full-rebuild removal set) on a
    * schedule that includes an empty slice and a re-run.
    *
    * Runs the same health/validation gates as a full build once per
    * invocation — the corpus's only when some slice carries a doc or
    * vector shard, so a fact-only schedule is the plain incremental
    * fact run (load.py:195 WRITE_APPEND made idempotent: a retry or
    * backfill of a slice rewrites only its own month partitions).
    * Each slice contributes a fact LoadStat, whose row count is the
    * slice as READ BACK from the published partitions, and (when a
    * shard arrived) a dedup and a vector LoadStat, so the run log reads
    * like the DAG's task history.
    */
  def dailyRun(spark: SparkSession, sfDir: String, outDir: String,
               slices: Seq[DailySlice], nShards: Int,
               validateFirst: Boolean = true,
               onStage: String => Unit = _ => (),
               onStat: LoadStat => Unit = _ => ()): Seq[LoadStat] = {
    val modes = FullRun +:
      (if (slices.exists(s => s.docShard.nonEmpty || s.vecShard.nonEmpty))
        Seq(CurationRun) else Nil)
    modes.foreach(healthCheck(spark, sfDir, outDir, _))
    onStage("validate_extract")
    if (validateFirst) modes.foreach(requireGates(spark, sfDir, _))
    def step(table: String)(rows: => Long) = timedStep(table, onStage, onStat)(rows)
    val indexDir = s"$outDir/dedup_index"
    val stats = slices.flatMap { s =>
      val fact = step(s"fact_sales[${s.fromKey}..${s.toKey}]")(Facts.loadFactIncrement(
        spark, sfDir, s"$outDir/fact_sales", s.fromKey, s.toKey))
      val dedup = s.docShard.map(i => step(s"shard_dedup[shard=$i/$nShards]")(
        Dedup.shardIngest(spark, sfDir, indexDir, i, nShards).count()))
      // the vector side (q51's operating mode): first shard bootstraps
      // the codebook, later shards assign-on-arrival — no retrain
      val vec = s.vecShard.map(i => step(s"vec_index[shard=$i/$nShards]")(
        Similarity.vecShardIngest(spark, sfDir, s"$outDir/vec_index", i, nShards).count()))
      fact +: (dedup ++ vec).toSeq
    }
    // the consumer-facing curation table: refreshed once per run, after
    // the last tick (each tick's own report is already published under
    // the index — this is the rollup view, like d20 over d17's pairs).
    // A schedule that ingested no shard (all-facts days) has no index
    // yet and leaves the standing table untouched.
    val remDir = new org.apache.hadoop.fs.Path(s"$indexDir/removals")
    val hasIndex = remDir.getFileSystem(spark.sessionState.newHadoopConf())
      .exists(remDir)
    if (!hasIndex) stats
    else stats :+ step("dedup_removals_standing")(Sinks.publish(
      Dedup.standingRemovals(spark, indexDir), s"$outDir/dedup_removals_standing"))
  }

  /** One reported step: announce `table` to `onStage`, run `rows`, and
    * hand its [[LoadStat]] (rows, wall seconds) to `onStat`.
    */
  private def timedStep(table: String, onStage: String => Unit,
                        onStat: LoadStat => Unit)(rows: => Long): LoadStat = {
    onStage(table)
    val t0 = System.nanoTime()
    val stat = LoadStat(table, rows, (System.nanoTime() - t0) / 1e9)
    onStat(stat)
    stat
  }

  /** Bounded retry — the reference DAG's `retries=2` default_args
    * (dags/retail_etl_dag.py) and the extract path's retried API calls
    * (extract.py:75-80), used by [[graft.sources.Fetch]]: re-attempt a
    * failed step up to `retries` times before letting the failure
    * propagate. Only transient faults benefit (a rate limit, a torn
    * source mid-replace); the attempt count and last error survive
    * into the thrown exception so the failure tells the whole story.
    */
  private[graft] def withRetries[A](retries: Int, stage: String)(body: => A): A = {
    // a negative count would skip the loop entirely and NPE on `last`
    // below — fail with the real story instead
    require(retries >= 0, s"stage $stage: retries must be >= 0, got $retries")
    var attempt = 0
    var last: Throwable = null
    while (attempt <= retries) {
      // NonFatal only: an OOM'd or interrupted JVM must propagate
      // immediately, never re-execute the stage against corrupted state
      try return body
      catch { case scala.util.control.NonFatal(e) => last = e; attempt += 1 }
    }
    throw new RuntimeException(
      s"stage $stage failed after ${retries + 1} attempts (dag retries=$retries): " +
        s"${last.getClass.getSimpleName}: ${Option(last.getMessage).getOrElse("").take(300)}",
      last)
  }

  /** Failure-notification analog of the reference DAG's
    * `notify_on_failure` callback (dags/retail_etl_dag.py:494-521):
    * run the pipeline, and if any stage throws, record WHICH stage
    * failed, the error, and how far the run got as a queryable parquet
    * artifact at `outDir/_failure_log` (the record a scheduler's
    * alerting tails), then rethrow so the caller still observes the
    * failure. On success the artifact is removed — its presence IS the
    * alert condition.
    *
    * Two further DAG notifications ride the same presence-is-the-alert
    * rule:
    *
    *  - `stageSlaSeconds` is the per-stage SLA budget
    *    (retail_etl_dag.py:78, `sla=timedelta(minutes=90)`): a stage
    *    that exceeds it does NOT fail the run — Airflow SLA misses
    *    alert without failing — but every breach lands in
    *    `outDir/_sla_log` (run_id, stage, seconds, budget, rows). The
    *    artifact is removed when a run has no breach. Breaches
    *    observed before a stage FAILURE are still recorded (an SLA
    *    miss report must survive the run dying two stages later).
    *  - on SUCCESS, a one-row `outDir/_run_summary` is published — the
    *    `task_pipeline_summary` analog (retail_etl_dag.py:444-476):
    *    run id, stage/row/duration totals, the validate_load gate
    *    census, and the SLA-breach count. A failed run deletes it, so
    *    a stale SUCCESS summary can never sit beside a failure log.
    *
    * Every record publishes through [[Sinks.publish]], so a kill mid-write
    * never leaves a torn one.
    */
  def runNotified(spark: SparkSession, sfDir: String, outDir: String,
                  validateFirst: Boolean = true, mode: Mode = FullRun,
                  runId: String = "run",
                  stageSlaSeconds: Double = Double.PositiveInfinity): Seq[LoadStat] =
    withAlerts(spark, outDir, runId, stageSlaSeconds) { (onStage, onStat) =>
      build(spark, sfDir, outDir, validateFirst, mode, onStage, onStat).size.toLong
    }

  /** The daily schedule with the full notification surface — the DAG's
    * callbacks apply to the OPERATING run, not just full rebuilds:
    * failure log, per-stage SLA log, and the success summary around
    * [[dailyRun]]. No validate_load census rides the daily summary
    * (slice stats name date ranges, not republished whole tables — the
    * incremental loads are already idempotent-verified by PipelineSpec's
    * rebuild-equivalence pins), so n_load_checks reads 0 here.
    */
  def dailyRunNotified(spark: SparkSession, sfDir: String, outDir: String,
                       slices: Seq[DailySlice], nShards: Int,
                       validateFirst: Boolean = true,
                       runId: String = "daily",
                       stageSlaSeconds: Double = Double.PositiveInfinity): Seq[LoadStat] =
    withAlerts(spark, outDir, runId, stageSlaSeconds) { (onStage, onStat) =>
      dailyRun(spark, sfDir, outDir, slices, nShards, validateFirst,
        onStage = onStage, onStat = onStat)
      0L
    }

  /** Shared notification harness (the DAG callback surface): runs
    * `body`, which reports each step's name through its first callback
    * and each completed [[LoadStat]] through its second, then publishes
    * the three presence-is-the-alert artifacts documented on
    * [[runNotified]] (`_failure_log` / `_sla_log` / `_run_summary`).
    * `body` returns how many validate_load checks it ran; it throws if
    * any failed, so a returned census is all-passed.
    */
  private def withAlerts(spark: SparkSession, outDir: String, runId: String,
      stageSlaSeconds: Double)(
      body: (String => Unit, LoadStat => Unit) => Long): Seq[LoadStat] = {
    import spark.implicits._
    val failurePath = s"$outDir/_failure_log"
    val slaPath = s"$outDir/_sla_log"
    val summaryPath = s"$outDir/_run_summary"
    var currentStage = "health_check"
    val done = scala.collection.mutable.ArrayBuffer.empty[LoadStat]
    def writeSlaLog(): Unit = {
      val breaches = done.filter(_.seconds > stageSlaSeconds).toSeq
      if (breaches.isEmpty) removeRecord(spark, slaPath)
      else Sinks.publish(breaches
        .map(s => (runId, s.table, s.seconds, stageSlaSeconds, s.rows))
        .toDF("run_id", "stage", "seconds", "sla_seconds", "rows")
        .withColumn("recorded_at", current_timestamp()), slaPath): Unit
    }
    try {
      val nChecks = body(s => currentStage = s, done += _)
      currentStage = "notify_success"
      writeSlaLog()
      val breachCount = done.count(_.seconds > stageSlaSeconds).toLong
      publishRecord(spark, summaryPath, contradicts = failurePath) {
        Seq((runId, done.size.toLong,
            done.map(_.rows).sum, done.map(_.seconds).sum,
            nChecks, nChecks, breachCount))
          .toDF("run_id", "n_stages", "total_rows", "total_seconds",
            "n_load_checks", "n_load_checks_ok", "n_sla_breaches")
          .withColumn("status", lit("SUCCESS"))
          .withColumn("finished_at", current_timestamp())
      }
      done.toSeq
    } catch {
      case e: Throwable =>
        // the failure log itself can fail (e.g. health_check failed
        // BECAUSE the warehouse dir is unreachable) — never let the
        // alert write mask the root cause
        try publishRecord(spark, failurePath, contradicts = summaryPath) {
          Seq((runId, currentStage, e.getClass.getSimpleName,
              Option(e.getMessage).getOrElse("").take(500), done.size.toLong))
            .toDF("run_id", "failed_stage", "error_class", "error", "n_completed_stages")
            .withColumn("status", lit("FAILED"))
            .withColumn("failed_at", current_timestamp())
        } catch { case w: Throwable => e.addSuppressed(w) }
        try writeSlaLog()
        catch { case w: Throwable => e.addSuppressed(w) }
        throw e
    }
  }

  /** Publish the run record `record` at `path` after deleting the record
    * it `contradicts` (a SUCCESS summary and a failure log). Delete
    * first: a kill between the two steps then leaves neither record,
    * never both.
    */
  private[graft] def publishRecord(spark: SparkSession, path: String,
                                   contradicts: String)(record: => DataFrame): Unit = {
    removeRecord(spark, contradicts)
    Sinks.publish(record, path): Unit
  }

  private def removeRecord(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true): Unit
  }

  /** Run-log DataFrame from load stats (etl_run_log analog). */
  def runLog(spark: SparkSession, stats: Seq[LoadStat], runId: String): DataFrame = {
    import spark.implicits._
    stats.toDF()
      .withColumn("run_id", lit(runId))
      .withColumn("status", lit("SUCCESS"))
  }
}
