package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured-Streaming surface of the event pipeline — the streaming
  * twins of the batch operators in graft.operators.Events (same column
  * logic, verified against them in EventsStreamSpec).
  *
  * Scale notes: watermarks bound all window and join state — state
  * lives in the state store, not the driver.
  */
object EventsStream {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  /** Hourly tumbling windowed aggregation with a 2-hour watermark —
    * streaming twin of Events.tumblingWindows. `approx_count_distinct`
    * replaces exact distinct (exact per-key distinct is unbounded state
    * in a stream).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        // DECIMAL-exact sum (the e02 batch-twin discipline): a double
        // sum's rounding depends on partitioning/arrival order, which
        // would make the windowed totals chopping-dependent. Input
        // precision (20,2), not the warehouse m2 (12,2): this operator
        // is generic over event values, and under non-ANSI mode a
        // value ≥ 10^10 would silently null through a (12,2) cast —
        // nulling the whole hourly total instead of failing (round-13
        // advice). The sum result (30,2) still has precision-38
        // headroom, and the rounded-double output type is unchanged.
        round(sum(col("value").cast("decimal(20,2)")), 2)
          .cast("double").as("total_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"), col("approx_users"))

  /** Streaming twin of e06's DAU column: exact daily active users via
    * CHAINED stateful operators — bounded-state dedup to (user, day)
    * first (`dropDuplicatesWithinWatermark`, the stream-legal stand-in
    * for countDistinct, whose state a stream can't bound), then a
    * watermarked daily window COUNT of the deduped rows. Two stateful
    * operators in one query share the event-time watermark — the shape
    * Structured Streaming supports for exactly this dedup-then-aggregate
    * pattern. On a static frame both stages degrade to their batch
    * forms and the function is its own batch twin (asserted in
    * StreamingSpec).
    */
  def dailyActiveUsers(events: DataFrame): DataFrame = {
    val dayRows = events.select(col("ts"), col("user_id"), to_date(col("ts")).as("d"))
    val deduped =
      if (events.isStreaming)
        dayRows.withWatermark("ts", "1 day")
          .dropDuplicatesWithinWatermark("user_id", "d")
      else dayRows.dropDuplicates("user_id", "d")
    deduped
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("dau"))
      .select(col("w.start").cast("date").as("activity_date"), col("dau"))
  }

  /** Watermarked stream-stream inner join — purchase→click attribution
    * (the streaming counterpart of the q23 as-of attribution): each
    * purchase joins the same user's clicks from the hour before it.
    * Both sides carry event-time watermarks and the join condition
    * bounds event-time distance, so the state store can expire buffered
    * rows — the only shape in which a stream-stream join survives an
    * unbounded stream. On static frames the watermarks are no-ops and
    * the function is its own batch twin (asserted in StreamingSpec).
    */
  def purchaseClickJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Gap-bucket projection shared by the continuous census and its
    * batch twin — attribution latency quantized to a 4-value key
    * (≤5 min / ≤15 / ≤30 / ≤60: the join window bounds the gap).
    */
  private[graft] def gapBuckets(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("gap_sec",
        unix_timestamp(col("purchase_ts")) - unix_timestamp(col("click_ts")))
      .withColumn("gap_bucket",
        when(col("gap_sec") <= 300L, "<=5m")
          .when(col("gap_sec") <= 900L, "<=15m")
          .when(col("gap_sec") <= 1800L, "<=30m")
          .otherwise("<=60m"))

  /** Continuous attribution-latency census over [[purchaseClickJoin]]
    * — the live "how stale was the click that converted" distribution.
    * A stream-stream join may only run in Append mode, and a
    * time-interval join is exactly the shape Spark's global-watermark
    * check refuses to chain a stateful aggregation behind (matched
    * pairs can surface with event times behind the downstream
    * watermark). So the census rides the CurationStream pattern
    * instead: foreachBatch folds each micro-batch's pairs into
    * per-batch bucket counts keyed `batch=<id>`, each published whole
    * through `Sinks.publish` — a replayed batch replaces only its own
    * partition (at-least-once replay is idempotent), and
    * [[servedAttributionCensus]] serves the standing census as the sum
    * over partitions. No chained stateful operator,
    * no correctness escape hatch, bounded 4-row state per batch.
    *
    * Long-stream bounds (a census of unbounded lifetime may not grow
    * its file listing without bound):
    *  - EMPTY batches never write: the ≤4-row aggregate is collected
    *    once (executing the joined micro-batch exactly once) and the
    *    partition write replays the collected rows from the driver, so
    *    the skip costs no second execution. A stream of mostly-idle
    *    triggers stays at zero files.
    *  - every `compactAfter` surviving partitions, the batch folds all
    *    partitions except its own into a VERSIONED base
    *    `census_base/v=<id>` and deletes what the base covers. The
    *    serving rule — newest base wins, parts with id ≤ its version
    *    are ignored — makes every crash window read consistently:
    *    a crash after the base publish but before the delete sweep
    *    leaves covered parts visible yet ignored (no double count),
    *    and a replayed trigger finds its base version already
    *    published, skips the rebuild, and re-runs only the idempotent
    *    sweep. The base itself is claimed once (Sinks.ensure) so a
    *    torn write is never the newest version. Single writer per
    *    census dir (the one streaming query).
    */
  def attributionCensusStart(clicks: DataFrame, purchases: DataFrame,
                             outDir: String, compactAfter: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    purchaseClickJoin(clicks, purchases)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$outDir/_ckpt")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        val agg = gapBuckets(batch.toDF())
          .groupBy(col("gap_bucket"))
          .agg(count(lit(1)).as("n_pairs"))
        val rows = agg.collect() // ≤4 rows by construction
        if (rows.nonEmpty)
          graft.sources.Sinks.publish(spark.createDataFrame(
              java.util.Arrays.asList(rows: _*), agg.schema).coalesce(1),
            s"$outDir/census/batch=$id")
        compactCensus(spark, outDir, id, compactAfter)
      }
      .start()

  /** List child dirs named `<prefix>=<n>` under `dir` → (n, path). */
  private def listVersioned(fs: org.apache.hadoop.fs.FileSystem,
                            dir: org.apache.hadoop.fs.Path,
                            prefix: String): Seq[(Long, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith(s"$prefix="))
        scala.util.Try(name.stripPrefix(s"$prefix=").toLong).toOption
          .map(_ -> st.getPath)
      else None
    }

  /** Fold every census partition except the in-flight batch's own into
    * `census_base/v=<id-1>`, then sweep what the new base covers. See
    * [[attributionCensusStart]] for the crash-window argument.
    */
  private def compactCensus(spark: SparkSession, outDir: String,
                            batchId: Long, compactAfter: Int): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val censusDir = new org.apache.hadoop.fs.Path(s"$outDir/census")
    val baseDir = new org.apache.hadoop.fs.Path(s"$outDir/census_base")
    val fs = censusDir.getFileSystem(conf)
    val bases = listVersioned(fs, baseDir, "v")
    val curV = if (bases.isEmpty) -1L else bases.map(_._1).max
    // live = parts the serving rule actually reads; stale covered parts
    // (id ≤ curV, from a crashed sweep) don't count toward the trigger
    val parts = listVersioned(fs, censusDir, "batch")
    val live = parts.filter(_._1 > curV)
    val newV = batchId - 1 // never fold the replay-able in-flight batch
    if (live.count(_._1 <= newV) > compactAfter && newV > curV) {
      graft.sources.Sinks.ensure(spark, s"$baseDir/v=$newV") {
        val folded = live.filter(_._1 <= newV).map(_._2.toString) ++
          bases.filter(_._1 == curV).map(_._2.toString)
        spark.read.parquet(folded: _*)
          .groupBy(col("gap_bucket"))
          .agg(sum(col("n_pairs")).as("n_pairs"))
          .coalesce(1)
      }
      // idempotent sweep: everything the new base covers
      parts.filter(_._1 <= newV).foreach(p => fs.delete(p._2, true))
      bases.filter(_._1 < newV).foreach(b => fs.delete(b._2, true))
    }
  }

  /** The standing census after any number of triggers — an EMPTY census
    * (zero rows) before the first trigger has committed, never an error.
    * Serving rule (see [[attributionCensusStart]]): the newest
    * `census_base/v=<V>` plus only the partitions with id > V.
    */
  def servedAttributionCensus(spark: SparkSession, outDir: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val censusDir = new org.apache.hadoop.fs.Path(s"$outDir/census")
    val fs = censusDir.getFileSystem(conf)
    val bases = listVersioned(fs, new org.apache.hadoop.fs.Path(s"$outDir/census_base"), "v")
    val curV = if (bases.isEmpty) -1L else bases.map(_._1).max
    val paths = listVersioned(fs, censusDir, "batch")
      .filter(_._1 > curV).map(_._2.toString) ++
      bases.filter(_._1 == curV).map(_._2.toString)
    if (paths.isEmpty) {
      import spark.implicits._
      Seq.empty[(String, Long)].toDF("gap_bucket", "n_pairs")
    } else
      spark.read.parquet(paths: _*)
        .groupBy(col("gap_bucket"))
        .agg(sum(col("n_pairs")).as("n_pairs"))
  }

  /** Batch twin: identical census from static frames in one shot. */
  def attributionCensusBatch(clicks: DataFrame, purchases: DataFrame): DataFrame =
    gapBuckets(purchaseClickJoin(clicks, purchases))
      .groupBy(col("gap_bucket"))
      .agg(count(lit(1)).as("n_pairs"))

  /** Run a streaming query over `df` into an in-memory sink and block
    * until the source drains — the local smoke harness.
    */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    df.sparkSession.table(name)
  }
}
