package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.sources.Tables

/** Driver-oracle surface for the streaming components (round-13
  * verdict item 1): each stream_* row wires its streaming operator
  * end-to-end — deterministic parquet chunks staged as a FILE SOURCE
  * (one micro-batch per file, modification-time ordered), the real
  * watermark/state machinery, the real sink — and returns the sink
  * read back as a batch frame whose DuckDB oracle is the operator's
  * batch twin. The stream==batch specs (QualityStreamSpec,
  * DocStreamSpec, …) pin chopping-invariance; these entries put the
  * same equality under the driver's CORRECTNESS gate.
  *
  * Determinism contract per entry: the published frame contains only
  * columns whose values are invariant to HOW the feed is chopped into
  * micro-batches and to intra-batch row races (e.g. the dedup entry
  * publishes the survivor set at FINGERPRINT grain — the surviving
  * doc_id within one micro-batch is a state-store race, the survivor
  * set is not).
  *
  * Scale: the harness is test-scale by design (it stages the corpus as
  * files), but every streaming operator underneath carries its own
  * 100 TB argument (bounded state via watermarks / constant-size
  * sketch keys / published artifacts) — see each operator's scaladoc.
  */
object StreamQueries {

  private val nameSeq = new AtomicLong(0L)

  /** Fresh scratch dir for one wrapper run. The path carries the JVM's
    * pid (a per-PROCESS unique component — round-13 advice: a fixed
    * per-query-name path let two Bench/Verify processes on one host
    * clobber each other's staged source, checkpoint, and sink
    * mid-stream) plus a per-run sequence, so a run never replays a
    * stale checkpoint against another run's input. Run dirs accumulate
    * WITHIN a process (a previous wrapper's returned DataFrame reads
    * its sink lazily — deleting eagerly would corrupt a
    * not-yet-consumed result, the same hazard as the containment
    * slices) and the per-process root is removed on JVM exit by a
    * shutdown hook; the dirs are test-scale (the wrappers stage
    * sf0.01-class chunks).
    */
  private val procTag: String = {
    val pid = ProcessHandle.current().pid()
    val tag = s"graft_stream_$pid"
    val root = Paths.get(System.getProperty("java.io.tmpdir"), tag)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(root)))
    tag
  }

  private def scratch(name: String): String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), procTag,
      s"${name}_${nameSeq.incrementAndGet()}")
    deleteRec(p)
    Files.createDirectories(p)
    p.toString
  }

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Stage each chunk as ONE parquet file under `dir` with strictly
    * increasing modification times — the file stream source processes
    * oldest-first, so chunk order IS micro-batch order (with
    * maxFilesPerTrigger=1 each file is exactly one batch).
    */
  private def stageChunks(chunks: Seq[DataFrame], dir: String): StructType = {
    chunks.zipWithIndex.foreach { case (df, i) =>
      val tmp = Paths.get(dir, s"_stage_$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val s = Files.list(tmp)
        try s.filter(f => f.getFileName.toString.startsWith("part-") &&
            f.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        finally s.close()
      }
      val target = Paths.get(dir, f"chunk$i%03d.parquet")
      Files.move(part, target)
      // 10 s spacing: far above any filesystem mtime granularity
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 10000L))
      deleteRec(tmp)
    }
    chunks.head.schema
  }

  /** Stage an UNORDERED feed as `n` hash-split files in ONE write
    * (one scan of the source instead of one per chunk): repartition by
    * the split key writes one part file per partition; files are then
    * renamed into mtime order. Only for feeds whose operator output is
    * invariant to batch assignment (the dedup/score/sketch/fact
    * entries); time-ordered feeds (events) stage per range chunk.
    */
  private def stageHashed(df: DataFrame, key: org.apache.spark.sql.Column,
                          n: Int, dir: String): StructType = {
    val tmp = Paths.get(dir, "_stage")
    df.repartition(n, key).write.mode("overwrite").parquet(tmp.toString)
    val parts = {
      val s = Files.list(tmp)
      try s.filter(f => f.getFileName.toString.startsWith("part-") &&
          f.getFileName.toString.endsWith(".parquet"))
        .sorted().toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }
    parts.zipWithIndex.foreach { case (part, i) =>
      val target = Paths.get(dir, f"chunk$i%03d.parquet")
      Files.move(part, target)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 10000L))
    }
    deleteRec(tmp)
    df.schema
  }

  /** Open the staged dir as a one-file-per-trigger streaming source. */
  private def fileStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)

  /** Run `body` (which builds, starts and drains one streaming query
    * over the staged feed under `srcDir`) with the session's shuffle
    * parallelism sized to the FEED, not the host (round-14 optimization,
    * guide §2 "make partitioning scale-adaptive"): a stateful streaming
    * operator keys its state store by shuffle partition, and every
    * micro-batch commits one delta file per state partition per
    * stateful operator — so a KB-scale staged chunk processed at the
    * session default (= local core count) pays 32 store commits per
    * batch for data that fits in one. Partitions derive from staged
    * bytes at ~16 MB each (clamped to [4, session default] so a big
    * feed keeps the session width and the driver's lower-cpu bench
    * modes are never widened). Results are invariant:
    * every wrapper publishes chopping-invariant columns (aggregates,
    * survivor sets, per-key state walks), none of which depend on state
    * partition count. Conf is restored even on failure; the sink
    * read-back happens OUTSIDE `body`, at the restored width.
    */
  private def withFeedShuffle[T](spark: SparkSession, srcDir: String)(body: => T): T = {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    val p = Paths.get(srcDir)
    val bytes =
      if (!Files.exists(p)) 0L
      else {
        val s = Files.walk(p)
        try s.filter(Files.isRegularFile(_))
          .mapToLong(f => Files.size(f)).sum()
        finally s.close()
      }
    // session width is a TRUE upper bound: a session narrower than 4
    // partitions is never widened to 4
    val parts = math.min(saved.toLong, math.max(4L, bytes / (16L << 20) + 1)).toInt
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** Run `df` into a parquet file sink (the transactional exactly-once
    * sink the production operators use), block until the staged source
    * drains — processAllAvailable also runs the engine's no-data
    * batches, so watermark-gated state flushes before the read-back —
    * and return the sink as a batch frame.
    */
  private def drainToParquet(df: DataFrame, out: String,
                             partitionCols: Seq[String] = Nil): DataFrame = {
    val w0 = df.writeStream
      .format("parquet")
      .option("path", s"$out/sink")
      .option("checkpointLocation", s"$out/ckpt")
      .outputMode("append")
    val q = (if (partitionCols.nonEmpty) w0.partitionBy(partitionCols: _*) else w0).start()
    try q.processAllAvailable() finally q.stop()
    df.sparkSession.read.parquet(s"$out/sink")
  }

  /** Run an AGGREGATING stream in Complete mode into the memory sink
    * (the only complete-mode sink) and return the final state — used by
    * the constant-state sketch queries, whose result is ≤ keys×m rows
    * by construction (driver-bounded like every memory-sink use here).
    */
  private def drainToMemory(df: DataFrame): DataFrame = {
    val name = s"graft_stream_mem_${nameSeq.incrementAndGet()}"
    val q = df.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    df.sparkSession.table(name)
  }

  /** Documents with a synthetic monotone `ingest_ts` (arrival clock for
    * the dedup watermark), staged as 3 hash-split chunk files.
    */
  private def stageDocs(spark: SparkSession, dir: String, out: String): StructType =
    stageHashed(
      Tables.documents(spark, dir)
        .withColumn("ingest_ts", timestamp_seconds(lit(1704067200L) + col("doc_id"))),
      col("doc_id"), 3, out)

  // ─── stream_quality: frozen-ridge model serving ──────────────────────
  /** Train the t28 ridge OFFLINE on the standing corpus, then serve its
    * frozen coefficients on the document stream (QualityStream) —
    * scored per-doc rows land in the exactly-once file sink. Stateless
    * projection end to end, so any chopping yields the identical rows;
    * the oracle replays the full train+score chain (generated Cholesky
    * CTEs + the per-doc score expression) in DuckDB.
    */
  def streamQuality(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("quality")
    val model = QualityStream.trainModel(spark, dir)
    val schema = stageHashed(Tables.documents(spark, dir), col("doc_id"), 3, s"$out/src")
    withFeedShuffle(spark, s"$out/src") {
      val scored = QualityStream.scored(fileStream(spark, s"$out/src", schema), model)
      drainToParquet(scored, out)
    }
  }

  // ─── stream_facts: continuous fact ingest ────────────────────────────
  /** Lineitem-grain stream joined to the static order/part dims through
    * the SAME builder as the batch fact (q12), landing month-partitioned
    * in the transactional file sink. Oracle = q12's SQL + the month key:
    * hash equality proves the streamed warehouse == the batch rebuild.
    */
  def streamFacts(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("facts")
    val schema = stageHashed(Tables.lineitem(spark, dir),
      col("l_orderkey"), 3, s"$out/src")
    // persist the STATIC join sides once: every micro-batch re-executes
    // the stream-static join's static subtree (scan + broadcast build),
    // so an N-batch drain paid N orders scans + N part scans; cached,
    // batch 1 materializes them and batches 2..N read memory (round-14
    // optimization; released before returning — the returned frame
    // reads the sink, not the dims)
    val orders = Tables.orders(spark, dir).persist()
    val part = Tables.part(spark, dir).persist()
    try {
      // the partition column reads back as INT (directory-name inference);
      // restore the builder's LONG so the oracle schema matches
      withFeedShuffle(spark, s"$out/src") {
        val w = spark.conf.get("spark.sql.shuffle.partitions").toInt
        // A staged chunk is ONE file → one scan task, so without a
        // spread the batch's join and fact derivation run on one task.
        // Spread the arriving rows across the feed width first; the
        // month shard at the end of factStream then co-locates each
        // month for the sink. The spread moves only the micro-batch's
        // own rows. Bench stream_facts at sf0.1, local[4], min-of-3:
        // 8.64 / 8.78 s with it, 9.75 / 10.95 s without. (Together
        // with the month shard, it first took this 3-batch drain from
        // 11.2 to 7.0 s.)
        val fact = FactStream.factStream(
          fileStream(spark, s"$out/src", schema).repartition(w), orders, part)
        drainToParquet(fact, out, partitionCols = Seq("month_key"))
      }.withColumn("month_key", col("month_key").cast("long"))
    } finally { orders.unpersist(); part.unpersist(): Unit }
  }

  // ─── stream_dedup: gated exact-dedup ingest ──────────────────────────
  /** DocStream.gatedIngest end to end: the quality gate screens junk
    * BEFORE dedup state, `dropDuplicatesWithinWatermark` keeps one
    * survivor per content fingerprint. Published at FINGERPRINT grain
    * (fingerprint + text-derived stats): WHICH duplicate row survives an
    * intra-batch race is nondeterministic, the survivor SET is exact —
    * and it is the set the batch twin (gate + DISTINCT md5) replays.
    * The horizon is effectively unbounded here so the survivor set is
    * chopping-invariant (production bounds it; d01 is the batch
    * backstop — see DocStream.dedupIngest's scaladoc).
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("dedup")
    val schema = stageDocs(spark, dir, s"$out/src")
    withFeedShuffle(spark, s"$out/src") {
      val survivors = DocStream.gatedIngest(
        fileStream(spark, s"$out/src", schema), horizon = "36500 days")
      drainToParquet(survivors, out)
    }
      .select(col("fingerprint"),
        length(col("text")).cast("long").as("n_chars"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("n_tokens"))
  }

  // ─── stream_sketch: the continuous mergeable sketch feed ─────────────
  /** s01's HLL registers maintained over the document stream — an
    * unwatermarked stateful aggregation that is state-safe because the
    * key space is (source × 256 buckets) BY CONSTRUCTION. Complete-mode
    * final state == a batch register build over everything that arrived;
    * the oracle replays the register construction (the s01 chain's reg
    * tier) in DuckDB.
    */
  def streamSketch(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("sketch")
    val schema = stageHashed(
      Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text")),
      col("doc_id"), 3, s"$out/src")
    withFeedShuffle(spark, s"$out/src") {
      val regs = SketchStream.hllRegisters(fileStream(spark, s"$out/src", schema))
      drainToMemory(regs)
    }
      .select(col("source"), col("bucket").cast("long").as("bucket"),
        col("reg").cast("long").as("reg"))
  }

  // ─── stream_curation: continuous near-dup curation ingest ────────────
  /** CurationStream end to end: each micro-batch is one arriving shard
    * probed against the growing standing index (batch-keyed band /
    * shingle-array / removal tiers), and the standing removal rollup
    * after the feed drains must equal the FULL-REBUILD removal set
    * however the stream was chopped (the keep-min discipline — pairs
    * are discovered at the later shard of each pair). Oracle = the
    * d07 full-rebuild chain's keep-min removal list.
    */
  def streamCuration(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("curation")
    val schema = stageHashed(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"), 3, s"$out/src")
    withFeedShuffle(spark, s"$out/src") {
      val q = CurationStream.ingest(
        fileStream(spark, s"$out/src", schema), s"$out/index", s"$out/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    CurationStream.standingRemovals(spark, s"$out/index")
  }

  // ─── stream_scd2: CDC-style streaming dimension maintenance ──────────
  /** DimStream end to end: a persisted customer dimension (the 1997
    * activity snapshot at v1) receives TWO update micro-batches — the
    * 1999 snapshot, then the full snapshot — each merged by the SAME
    * Scd2.mergeInto the batch pipeline uses, with the merge timestamp a
    * pure function of the batch id (replay-stable). The oracle replays
    * both sequential merges as CASE logic over the three snapshot
    * hashes: per customer the version chain (history / expired /
    * changed / unchanged rows with their effective intervals) is fully
    * determined by which of the three activity segments differ.
    */
  def streamScd2(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("scd2")
    def snap(cutoff: Option[String]): DataFrame = {
      val c = Tables.customer(spark, dir).select(col("c_custkey"))
      val o0 = Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      val o = cutoff.map(ts => o0.filter(
        col("o_orderdate") < lit(ts).cast("timestamp_ntz"))).getOrElse(o0)
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("cnt"))
        .select(col("c_custkey").as("customer_id"),
          graft.operators.Dimensions.segmentOf(col("cnt")).as("segment"))
        .withColumn("row_hash",
          md5(concat_ws("_", col("customer_id"), col("segment"))))
    }
    val dimPath = s"$out/dim"
    // NTZ throughout (the q11 INT96 lesson — see Dimensions.scd2MergeDemo)
    snap(Some("1997-01-01 00:00:00"))
      .withColumn("version", lit(1L))
      .withColumn("is_current", lit(true))
      .withColumn("effective_start_date",
        lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
      .withColumn("effective_end_date",
        lit("9999-12-31 00:00:00").cast("timestamp_ntz"))
      .write.parquet(dimPath)
    val schema = stageChunks(Seq(
      snap(Some("1999-01-01 00:00:00")).withColumn("seq", lit(0L)),
      snap(None).withColumn("seq", lit(1L))), s"$out/src")
    withFeedShuffle(spark, s"$out/src") {
      val q = DimStream.scd2Sink(
          fileStream(spark, s"$out/src", schema), dimPath,
          key = "customer_id", orderCol = "seq",
          mergeTsOf = id => lit(s"2000-01-0${id + 1} 00:00:00").cast("timestamp_ntz"))
        .option("checkpointLocation", s"$out/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(dimPath)
  }

  // ─── the watermark-gated event rows ──────────────────────────────────
  /** Stage the event feed as 3 TIME-ORDERED chunk files (range
    * boundaries at thirds of the span) so event time is monotone across
    * micro-batches — no row ever arrives behind the watermark — plus a
    * trailing sentinel chunk (`zz_sentinel`, its own final batch) that
    * advances the watermark past every real window so Append-mode state
    * flushes before the read-back. ONE events pass end to end
    * (round-14 optimization): the old shape ran one filtered
    * scan + coalesce(1) write PER chunk (4 jobs, 4 scans); this derives
    * a chunk id per row and writes all chunks in a single
    * partitionBy("__chunk") job (each chunk lands in one task after the
    * keyed repartition → exactly one file per chunk dir), then renames
    * the part files into mtime order. Intra-chunk row order changes
    * under the shuffle; every consumer's published columns are
    * invariant to intra-batch order by the wrappers' determinism
    * contract (aggregates / per-day count maps). An empty chunk writes
    * no dir and yields one fewer micro-batch — equally
    * chopping-invariant. The span probe stays a 1-row driver action
    * (the q39 rule) and now also feeds the sentinel timestamp, so the
    * anomalies row's separate max-date scan is gone too.
    * Returns (staged schema, max real ts).
    */
  private def stageEventFeed(spark: SparkSession, dir: String, out: String,
                             sentinelMsOf: (Long, Long) => Long): (StructType, java.sql.Timestamp) = {
    // normalize ts to the LTZ timestamp family (session tz is UTC, so
    // NTZ wall-clock == instant): the probe/sentinel arithmetic and the
    // AnomalyStream encoder all speak java.sql.Timestamp
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val mm = ev.agg(min(col("ts")).as("t0"), max(col("ts")).as("t1")).collect()(0)
    val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val (c1, c2) = (t0 + (t1 - t0) / 3, t0 + 2 * (t1 - t0) / 3)
    val sentinel = spark.range(1).select(
      lit(-1L).as("event_id"),
      timestamp_millis(lit(sentinelMsOf(t0, t1))).as("ts"),
      lit(-1L).as("user_id"),
      lit("zz_sentinel").as("event_type"),
      lit(0.0).as("value"))
    def ms(c: org.apache.spark.sql.Column) = unix_millis(c)
    val chunked = ev
      .withColumn("__chunk",
        when(ms(col("ts")) < c1, 0).when(ms(col("ts")) < c2, 1).otherwise(2))
      .unionByName(sentinel.withColumn("__chunk", lit(3)))
    val tmp = Paths.get(out, "_stage")
    chunked.repartition(col("__chunk"))
      .write.mode("overwrite").partitionBy("__chunk").parquet(tmp.toString)
    val chunkDirs = {
      val s = Files.list(tmp)
      try s.filter(f => f.getFileName.toString.startsWith("__chunk="))
        .sorted(java.util.Comparator.comparingInt[Path](f =>
          f.getFileName.toString.stripPrefix("__chunk=").toInt))
        .toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }
    chunkDirs.zipWithIndex.foreach { case (cd, i) =>
      val part = {
        val s = Files.list(cd)
        try s.filter(f => f.getFileName.toString.startsWith("part-") &&
            f.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        finally s.close()
      }
      val target = Paths.get(out, f"chunk$i%03d.parquet")
      Files.move(part, target)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 10000L))
    }
    deleteRec(tmp)
    (ev.schema, mm.getTimestamp(1))
  }

  /** stream_events: EventsStream.windowedCounts (watermarked hourly
    * tumbling windows) through the Append-mode file sink. The sentinel
    * (4 h past the last event vs the 2 h watermark) closes every real
    * window; its own window stays behind the watermark and is filtered
    * out besides. Oracle = the e02 batch-twin aggregation.
    */
  def streamEvents(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("events")
    val (schema, _) = stageEventFeed(spark, dir, s"$out/src",
      (_, t1) => t1 + 4L * 3600 * 1000)
    val drained = withFeedShuffle(spark, s"$out/src") {
      val wc = EventsStream.windowedCounts(fileStream(spark, s"$out/src", schema))
      drainToParquet(wc, out)
    }
    drained
      .filter(col("event_type") =!= "zz_sentinel")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH").as("hour_bucket"),
        col("event_type"), col("n_events"), col("total_value"))
  }

  /** stream_actives: EventsStream.dailyActiveUsers — the CHAINED
    * stateful pair (bounded (user, day) dedup feeding a watermarked
    * daily window count) through the Append-mode file sink. The
    * sentinel (3 d past the last event vs the 1 d watermark) closes
    * every real day; its own day never emits. Oracle = exact per-day
    * distinct users.
    */
  def streamActives(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("actives")
    val (schema, maxTs) = stageEventFeed(spark, dir, s"$out/src",
      (_, t1) => t1 + 3L * 86400 * 1000)
    val drained = withFeedShuffle(spark, s"$out/src") {
      val dau = EventsStream.dailyActiveUsers(fileStream(spark, s"$out/src", schema))
      drainToParquet(dau, out)
    }
    val maxDayUtc = maxTs.toInstant.atZone(java.time.ZoneOffset.UTC)
      .toLocalDate.toString
    drained.filter(col("activity_date") <= lit(maxDayUtc).cast("date"))
  }

  /** stream_anomalies: AnomalyStream.anomalies — the live e07 feed
    * (flatMapGroupsWithState, event-time timeouts, calendar zero-fill)
    * drained through the file sink. The sentinel sits at EXACTLY
    * last-day + 2 d 00:00: the resulting watermark (last-day + 1 d)
    * finalizes the last real day while pinning the trailing zero-fill
    * frontier AT the last real day, so the emitted grid matches the
    * batch operator's calendar densification to the global max date —
    * and the oracle is e07's SQL verbatim.
    */
  def streamAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("anomalies")
    // frontier-pinned sentinel: EXACTLY last-day + 2 d 00:00, derived
    // from the same 1-row span probe that cuts the chunks (t1 is the
    // max ts in UTC millis, so its calendar day is t1 div 86 400 000 —
    // the separate max(to_date(ts)) scan the old shape paid is gone)
    val (schema, _) = stageEventFeed(spark, dir, s"$out/src",
      (_, t1) => (t1 / 86400000L + 2L) * 86400000L)
    val drained = withFeedShuffle(spark, s"$out/src") {
      val feed = AnomalyStream.anomalies(fileStream(spark, s"$out/src", schema))
      drainToParquet(feed.toDF(), out)
    }
    drained.filter(col("event_type") =!= "zz_sentinel")
  }

  // ─── registry ────────────────────────────────────────────────────────
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_quality" -> streamQuality,
    "stream_facts" -> streamFacts,
    "stream_dedup" -> streamDedup,
    "stream_sketch" -> streamSketch,
    "stream_curation" -> streamCuration,
    "stream_events" -> streamEvents,
    "stream_actives" -> streamActives,
    "stream_anomalies" -> streamAnomalies,
    "stream_scd2" -> streamScd2)

  /** The full-rebuild LSH+verify removal list (the d07 chain without
    * its n_dup_pairs column — a replayed tick may legally re-record a
    * pair, so the streaming rollup publishes only the replay-stable
    * keep-min columns).
    */
  private val curationOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
      |pos AS (
      |  SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] AS shingle
      |  FROM pos),
      |ks AS (SELECT unnest(range(0, 18)) AS k),
      |hs AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
      |         CAST(('0x' || substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
      |  FROM sh),
      |sig AS (
      |  SELECT doc_id, CAST(k AS INT) AS k, min(h1 + k * h2) AS sig
      |  FROM hs CROSS JOIN ks GROUP BY 1, 2),
      |bands AS (
      |  SELECT doc_id, k // 3 AS band_j,
      |         md5(concat_ws('', CAST(min(CASE WHEN k % 3 = 0 THEN sig END) AS VARCHAR),
      |                           CAST(min(CASE WHEN k % 3 = 1 THEN sig END) AS VARCHAR),
      |                           CAST(min(CASE WHEN k % 3 = 2 THEN sig END) AS VARCHAR))) AS band_hash
      |  FROM sig GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b ON a.band_j = b.band_j AND a.band_hash = b.band_hash
      |       AND a.doc_id < b.doc_id),
      |cdocs AS (SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand),
      |csh AS (SELECT sh.* FROM sh JOIN cdocs USING (doc_id)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
      |inter AS (
      |  SELECT cand.doc_a, cand.doc_b, count(*) AS inter
      |  FROM cand
      |  JOIN csh a ON cand.doc_a = a.doc_id
      |  JOIN csh b ON cand.doc_b = b.doc_id AND a.shingle = b.shingle
      |  GROUP BY 1, 2),
      |verified AS (
      |  SELECT cand.doc_a, cand.doc_b,
      |         CAST(coalesce(inter.inter, 0) AS DOUBLE)
      |           / CAST(sa.n + sb.n - coalesce(inter.inter, 0) AS DOUBLE) AS jaccard
      |  FROM cand
      |  LEFT JOIN inter ON cand.doc_a = inter.doc_a AND cand.doc_b = inter.doc_b
      |  JOIN sizes sa ON cand.doc_a = sa.doc_id
      |  JOIN sizes sb ON cand.doc_b = sb.doc_id
      |  WHERE CAST(coalesce(inter.inter, 0) AS DOUBLE)
      |          / CAST(sa.n + sb.n - coalesce(inter.inter, 0) AS DOUBLE) >= 0.5)
      |SELECT doc_b AS removed_doc_id,
      |       min(doc_a) AS kept_partner,
      |       max(jaccard) AS max_jaccard
      |FROM verified GROUP BY 1""".stripMargin

  val oracle: Map[String, String] = Map(
    "stream_quality" -> graft.operators.TextAnalysis.ridgeScoreSql,
    "stream_facts" -> graft.operators.Facts.factStreamOracleSql,
    "stream_dedup" ->
      // the gate (length / alpha-ratio / dup-word-frac floors at
      // DocStream.gatedIngest's thresholds) then DISTINCT at fingerprint
      // grain — the batch twin of gate-then-keep-first
      """WITH g AS (
        |  SELECT text FROM documents
        |  WHERE length(text) >= 20
        |    AND CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE)
        |          / length(text) >= 0.5
        |    AND 1.0 - CAST(len(list_distinct(regexp_extract_all(text, '\S+'))) AS DOUBLE)
        |          / len(regexp_extract_all(text, '\S+')) <= 0.85)
        |SELECT DISTINCT md5(text) AS fingerprint,
        |       CAST(length(text) AS BIGINT) AS n_chars,
        |       CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |FROM g""".stripMargin,
    "stream_sketch" ->
      """WITH tok AS (
        |  SELECT source, CAST(('0x' || substr(md5(t.token), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT source, unnest(regexp_extract_all(text, '\S+')) AS token
        |        FROM documents) t)
        |SELECT source, h % 256 AS bucket,
        |       max(CASE WHEN h // 256 = 0 THEN 53
        |                ELSE 53 - length(bin(h // 256)) END) AS reg
        |FROM tok GROUP BY 1, 2""".stripMargin,
    "stream_curation" -> curationOracleSql,
    "stream_events" ->
      """SELECT strftime(ts, '%Y-%m-%d %H') AS hour_bucket, event_type,
        |       count(*) AS n_events,
        |       CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "stream_actives" ->
      """SELECT CAST(ts AS DATE) AS activity_date,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |FROM events GROUP BY 1""".stripMargin,
    // the live feed must equal the batch operator bit-for-bit — e07's
    // oracle IS the stream's oracle
    "stream_anomalies" -> graft.operators.Events.oracle("e07_event_anomalies"),
    // two sequential SCD2 merges replayed as CASE logic over the three
    // snapshot hashes (h0=1997, h1=1999, h2=full): the version chain
    // per customer is fully determined by which segments differ
    "stream_scd2" ->
      """WITH seg AS (
        |  SELECT c_custkey AS customer_id,
        |         CASE WHEN count(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN o_orderkey END) <= 1 THEN 'New'
        |              WHEN count(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN o_orderkey END) <= 3 THEN 'Occasional'
        |              WHEN count(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN o_orderkey END) <= 5 THEN 'Regular'
        |              ELSE 'Loyal' END AS seg0,
        |         CASE WHEN count(CASE WHEN o_orderdate < TIMESTAMP '1999-01-01' THEN o_orderkey END) <= 1 THEN 'New'
        |              WHEN count(CASE WHEN o_orderdate < TIMESTAMP '1999-01-01' THEN o_orderkey END) <= 3 THEN 'Occasional'
        |              WHEN count(CASE WHEN o_orderdate < TIMESTAMP '1999-01-01' THEN o_orderkey END) <= 5 THEN 'Regular'
        |              ELSE 'Loyal' END AS seg1,
        |         CASE WHEN count(o_orderkey) <= 1 THEN 'New'
        |              WHEN count(o_orderkey) <= 3 THEN 'Occasional'
        |              WHEN count(o_orderkey) <= 5 THEN 'Regular'
        |              ELSE 'Loyal' END AS seg2
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1),
        |h AS (
        |  SELECT customer_id, seg0, seg1, seg2,
        |         md5(concat_ws('_', customer_id, seg0)) AS h0,
        |         md5(concat_ws('_', customer_id, seg1)) AS h1,
        |         md5(concat_ws('_', customer_id, seg2)) AS h2
        |  FROM seg)
        |SELECT customer_id, seg2 AS segment, CAST(1 AS BIGINT) AS version,
        |       TRUE AS is_current,
        |       TIMESTAMP '1997-01-01' AS effective_start_date,
        |       TIMESTAMP '9999-12-31' AS effective_end_date,
        |       'unchanged' AS change_type, h2 AS row_hash
        |FROM h WHERE h0 = h1 AND h1 = h2
        |UNION ALL
        |SELECT customer_id, seg0, CAST(1 AS BIGINT), FALSE,
        |       TIMESTAMP '1997-01-01', TIMESTAMP '2000-01-02', 'expired', h0
        |FROM h WHERE h0 = h1 AND h1 <> h2
        |UNION ALL
        |SELECT customer_id, seg2, CAST(2 AS BIGINT), TRUE,
        |       TIMESTAMP '2000-01-02', TIMESTAMP '9999-12-31', 'changed', h2
        |FROM h WHERE h0 = h1 AND h1 <> h2
        |UNION ALL
        |SELECT customer_id, seg0, CAST(1 AS BIGINT), FALSE,
        |       TIMESTAMP '1997-01-01', TIMESTAMP '2000-01-01', 'history', h0
        |FROM h WHERE h0 <> h1
        |UNION ALL
        |SELECT customer_id, seg2, CAST(2 AS BIGINT), TRUE,
        |       TIMESTAMP '2000-01-01', TIMESTAMP '9999-12-31', 'unchanged', h2
        |FROM h WHERE h0 <> h1 AND h1 = h2
        |UNION ALL
        |SELECT customer_id, seg1, CAST(2 AS BIGINT), FALSE,
        |       TIMESTAMP '2000-01-01', TIMESTAMP '2000-01-02', 'expired', h1
        |FROM h WHERE h0 <> h1 AND h1 <> h2
        |UNION ALL
        |SELECT customer_id, seg2, CAST(3 AS BIGINT), TRUE,
        |       TIMESTAMP '2000-01-02', TIMESTAMP '9999-12-31', 'changed', h2
        |FROM h WHERE h0 <> h1 AND h1 <> h2""".stripMargin)
}
