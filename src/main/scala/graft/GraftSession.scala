package graft

import org.apache.spark.sql.SparkSession

import graft.sources.Tables

/** Session factory with scale-appropriate defaults.
  *
  * Mirrors the role of the reference's `config/settings.py`
  * (/root/reference/config/settings.py) — one place where engine
  * configuration lives, driven by the ENVIRONMENT with code defaults
  * (settings.py reads every tunable and endpoint from env/.env) — but
  * tuned for Spark execution: AQE on (runtime re-planning, skew-join
  * handling, partition coalescing), shuffle partition count sized for
  * the local harness (a real cluster would set this to ~2-3x total
  * cores), UTC session timezone for oracle parity.
  *
  * Env surface (all optional; unset = the code default, so the test
  * harness and driver behave exactly as before):
  *
  *  - `GRAFT_MASTER` — Spark master URL (default: caller's `master`
  *    arg, normally `local[*]`; a cluster deployment sets e.g.
  *    `yarn` or `spark://host:port`; ScaleBench reads it to
  *    run its fixed-data measurement on another core count)
  *  - `GRAFT_SHUFFLE_PARTITIONS` — positive int (default 32 locally;
  *    a 1000-executor cluster wants ~2-3x its total cores)
  *  - `GRAFT_BROADCAST_THRESHOLD` — spark.sql.autoBroadcastJoinThreshold
  *    (bytes, or -1 to disable; default: Spark's 10 MB)
  *  - `GRAFT_WAREHOUSE_DIR` — spark.sql.warehouse.dir, where the
  *    artifact families (LSH candidates, verified pairs, SimHash
  *    bands, IVF index) publish (default: Spark's ./spark-warehouse)
  *
  * Every main builds its session here; GraftSessionSpec fails on a
  * second `SparkSession.builder()` site under src/main, so the bench,
  * verify and scaling mains cannot drift apart again.
  */
object GraftSession {

  /** Resolve (master, config map) from the environment with code
    * defaults — pure, so the precedence rules are unit-testable
    * without building a session. Env wins over the caller's defaults
    * (the settings.py contract: deployment configures the engine
    * without a rebuild).
    */
  private[graft] def resolvedConfig(
      master: String, shufflePartitions: Int,
      env: Map[String, String]): (String, Map[String, String]) = {
    val sp = env.get("GRAFT_SHUFFLE_PARTITIONS") match {
      case None => shufflePartitions.toString
      case Some(v) =>
        // toInt via Try: an all-digit string can still overflow Int
        // ("9999999999"), which must fail through THIS message, not a
        // raw NumberFormatException out of the predicate
        require(scala.util.Try(v.toInt).toOption.exists(_ > 0),
          s"GRAFT_SHUFFLE_PARTITIONS must be a positive integer, got '$v'")
        v
    }
    val base = Map(
      "spark.sql.shuffle.partitions" -> sp,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // Cached plans pin their output partitioning: without this flag a
      // .persist() under a production-sized shuffle.partitions (~2-3x
      // total cores, thousands on a real cluster) materializes thousands
      // of tiny cache blocks and EVERY cache consumer schedules that many
      // tasks — the round-11 partitions-proportional-to-data record
      // measured d16's multi-consumer candidate cache at 4x its pinned
      // time from exactly this. The flag lets AQE coalesce the cached
      // plan's output to the advisory partition size like any other
      // exchange, so cache granularity follows data volume, not the
      // shuffle-partition knob.
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val optional = Seq(
      "GRAFT_BROADCAST_THRESHOLD" -> "spark.sql.autoBroadcastJoinThreshold",
      "GRAFT_WAREHOUSE_DIR" -> "spark.sql.warehouse.dir")
      .flatMap { case (envKey, conf) => env.get(envKey).map(conf -> _) }
    (env.getOrElse("GRAFT_MASTER", master), base ++ optional)
  }

  def builder(master: String = "local[*]", shufflePartitions: Int = 32,
              env: Map[String, String] = sys.env): SparkSession.Builder = {
    val (m, conf) = resolvedConfig(master, shufflePartitions, env)
    conf.foldLeft(SparkSession.builder().master(m).appName("graft")) {
      case (b, (k, v)) => b.config(k, v)
    }
  }

  def apply(master: String = "local[*]",
            shufflePartitions: Int = 32): SparkSession =
    start(builder(master, shufflePartitions))

  /** `getOrCreate` plus the harness log levels — for a caller that
    * adds a key of its own on [[builder]] (Verify's parquet timestamp
    * type) and must not push it into every session.
    */
  def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the allowlisted tiny-frame windows (PlanSweepSpec's audited
    // census/mart sites) each emit a `WARN WindowExec: No Partition
    // Defined` — correct plans, known noise; silence just that logger
    // so a harness's captured stdout tail stays readable
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** JIT / codegen warm-up + FULL-COLUMN first-touch of every table: a
    * parquet count() is metadata-only, so a count-based warm-up leaves
    * the big string/array columns (events.props, documents.text,
    * embeddings.embedding) cold and whichever query reads them FIRST
    * absorbs the entire cold read — e03 measured 17s in-harness vs
    * 0.9s in a warm local loop. The noop-format write deserializes
    * every column once, making per-query numbers comparable across
    * invocation environments (BASELINE.md is recorded with this same
    * warm-up).
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.names.foreach { t =>
      val df = if (t == "events") Tables.events(spark, sfDir)
               else spark.read.parquet(s"$sfDir/$t.parquet")
      df.write.mode("overwrite").format("noop").save()
    }
  }

  /** Release every query-scoped cached frame in the session — the
    * hygiene the Bench/Verify harness applies per query
    * (`clearCache()` between rows), packaged for a long-lived USER
    * session (round-13 verdict item 4: the d16/q53/q61/q63
    * persist/localCheckpoint contracts all documented "released by the
    * caller's per-query clearCache", which a notebook session never
    * calls). Two layers, because they are tracked separately:
    *
    *  1. `catalog.clearCache()` empties the CacheManager — every
    *     `Dataset.persist()` the operators took (d16's candidate pair
    *     frame, q53's basket slice, d07's pipeline intermediates);
    *  2. `getPersistentRDDs` then sweeps what the CacheManager never
    *     sees: `localCheckpoint` RDDs (q61/q63's lineage-truncation
    *     leaves persist at MEMORY_AND_DISK outside any query cache)
    *     and any raw RDD-level persists. Unpersist is blocking so the
    *     executors' block managers have actually dropped the blocks
    *     when this returns — a caller about to start a memory-heavy
    *     query can rely on the space being back.
    *
    * After this returns, re-running a released query simply recomputes
    * and re-persists, and a returned frame over persisted data
    * recomputes from lineage. A returned frame whose plan reads a
    * localCheckpoint leaf does NOT: its blocks are gone, and the next
    * action on it fails with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`.
    * Two query frames are of that kind — `d35_sliced_dedup` (its
    * slices are eager localCheckpoints) and `q61_purchase_hits` (each
    * HITS half-step is a lazy localCheckpoint). Release only
    * after such a frame is consumed, or re-run its query rather than
    * re-use the frame. Artifact-table state (the IVF index,
    * verified-pair parquet) is on disk and unaffected.
    */
  def releaseQueryCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
