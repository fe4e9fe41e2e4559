package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Pipeline, SparkEntry}
import graft.operators._
import graft.sources.{Sinks, Tables}
import graft.streaming.{CurationStream, FactStream}

/** One benchmark run: set up, run the workload's pass in a closed loop
  * (one client, next pass after the previous one completes) for the
  * given seconds, and write a result file that `run.py` completes with
  * the DuckDB output checks.
  *
  * Usage: PerfBench <workload> <seed> <seconds> <trace 0|1> <workDir>
  *          <resultJson> <cores> <inputDir>
  *
  * `run.py` stages the input tables in `inputDir` and, for
  * stream_ingest, the feed chunks under `<workDir>/feeds`.
  */
object PerfBench {

  case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                  work: String, out: String, cores: Int, in: String)

  /** What one pass measured: its unit operations' latencies (seconds)
    * and the number of them that failed a check.
    */
  case class PassResult(ops: Seq[Double], failed: Int)

  /** A published output for run.py to compare with a DuckDB oracle.
    * `glob` is relative to the work dir; `select` keeps columns (empty:
    * all), `drop` removes them.
    */
  case class Check(name: String, oracle: String, glob: String,
                   select: Seq[String] = Nil, drop: Seq[String] = Nil)

  class Ctx(val spark: SparkSession, val o: Opts, val spans: Spans,
            val streamTrace: Option[StreamTrace]) {
    val in: String = o.in
    val work: String = o.work
    val wh: String = s"$work/warehouse"
    /** The artifact root, as configured (Spark reports it as a file: URI). */
    val artifacts: String = s"$work/artifacts"
    val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
    /** Per-pass layer numbers of the traced run, summed over passes. */
    val layer: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = layer(k) += v
  }

  trait Workload {
    /** Run one pass; everything it writes lives in `dirs`. */
    def pass(i: Int): PassResult
    /** Directories a pass leaves behind (warehouse, artifacts, sinks). */
    def dirs: Seq[String]
    /** Outputs of the last pass, for the DuckDB checks. */
    def checks(): Seq[Check]
    /** Traced runs only: compare the last pass with the untraced path. */
    def replayCheck(): Unit = ()
  }

  // ─── helpers ──────────────────────────────────────────────────────────
  def rmrf(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path)) {
      val s = Files.walk(path)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** (files, bytes) under a directory tree. */
  def du(p: String): (Long, Long) = {
    val path = Paths.get(p)
    if (!Files.exists(path)) (0L, 0L)
    else {
      val s = Files.walk(path)
      try {
        val sizes = s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).toArray
        (sizes.length.toLong, sizes.sum)
      } finally s.close()
    }
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU time used by this JVM so far, all threads (ns). */
  private def processCpuNs(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def digest(rows: Array[Row]): String = {
    val canon = rows.map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("\u0001"))
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def shuffled[T](xs: Seq[T], seed: Long): Seq[T] =
    new scala.util.Random(seed).shuffle(xs)

  // ─── the build workloads: Pipeline.run, or its traced replay ──────────
  /** Pipeline.run's stage lists through the same public builders, with
    * the module each stage's builder lives in. `Pipeline.run` has no
    * stage hook, so the traced run replays these; [[checkReplay]] holds
    * the replay to `Pipeline.run`'s LoadStats.
    */
  def retailStages(s: SparkSession, in: String): Seq[(String, String, () => DataFrame)] = Seq(
    ("stg_lineitem_clean", "Cleaning", () => Cleaning.cleanLineitem(s, in)),
    ("dim_date", "Dimensions", () => Dimensions.dimDate(s, in)),
    ("dim_customer", "Dimensions", () => Dimensions.dimCustomerHashed(s, in)),
    ("dim_category", "Facts", () => Facts.dimCategory(s, in)),
    ("dim_product", "Dimensions", () => Dimensions.dimProduct(s, in)),
    ("fact_sales", "Facts", () => Facts.factSales(s, in)),
    ("mart_sales_performance", "Marts", () => Marts.martSalesPerformance(s, in)),
    ("mart_category_analysis", "Marts", () => Marts.martCategoryAnalysis(s, in)))

  def curationStages(s: SparkSession, in: String): Seq[(String, String, () => DataFrame)] = Seq(
    ("corpus_quality", "TextAnalysis", () => TextAnalysis.qualityScore(s, in)),
    ("dedup_removals", "Dedup", () => Dedup.dedupPipeline(s, in)),
    ("simhash_removals", "Dedup", () => Dedup.simhashDedup(s, in)),
    ("dup_clusters", "Dedup", () => Dedup.dupClusters(s, in)),
    ("decontamination", "Dedup", () => Dedup.ngramContamination(s, in)),
    ("effective_mixture", "Dedup", () => Dedup.effectiveMixture(s, in)),
    ("curation_funnel", "Dedup", () => Dedup.curationFunnel(s, in)),
    ("shard_dedup_report", "Dedup", () => Dedup.shardDedup(s, in)),
    ("semantic_removals", "Similarity", () => Similarity.semanticDedup(s, in)),
    ("boilerplate_census", "TextAnalysis", () => TextAnalysis.boilerplateCensus(s, in)),
    ("pii_scrub", "TextAnalysis", () => TextAnalysis.piiScrub(s, in)),
    ("corpus_splits", "TextAnalysis", () => TextAnalysis.hashSplit(s, in)),
    ("dsir_weights", "TextAnalysis", () => TextAnalysis.dsirWeights(s, in)),
    ("training_corpus", "Dedup", () => Dedup.trainingCorpus(s, in)))

  val modules: Seq[String] = Seq("Cleaning", "Dimensions", "Facts", "Marts",
    "Dedup", "TextAnalysis", "Similarity")

  /** The pre-run gate Pipeline.run applies for the mode. */
  private def gate(c: Ctx, mode: Pipeline.Mode): Unit = mode match {
    case Pipeline.CurationRun =>
      // Pipeline's corpus gate: non-empty, no null id or text, unique ids
      val r = Tables.documents(c.spark, c.in).agg(count(lit(1)),
        sum(when(col("doc_id").isNull || col("text").isNull, 1L).otherwise(0L)),
        countDistinct(col("doc_id"))).collect().head
      require(r.getLong(0) > 0 && r.getLong(1) == 0 && r.getLong(2) == r.getLong(0),
        "corpus gates failed")
    case _ =>
      require(Cleaning.validationGates(c.spark, c.in).select(col("all_gates_pass"))
        .collect().head.getBoolean(0), "validation gates failed")
  }

  /** One build of `mode`. Untraced and `viaRun`: `Pipeline.run` itself.
    * Otherwise the replay of `stages`, one span per stage and per publish.
    * Returns the LoadStats.
    */
  def build(c: Ctx, mode: Pipeline.Mode, stages: Seq[(String, String, () => DataFrame)],
            viaRun: Boolean): Seq[Pipeline.LoadStat] = {
    val sp = c.spans
    if (!sp.enabled && viaRun) Pipeline.run(c.spark, c.in, c.wh, mode = mode)
    else {
      sp("Pipeline.healthCheck")(Pipeline.healthCheck(c.spark, c.in, c.wh, mode))
      sp("Pipeline.gates")(gate(c, mode))
      val stats = stages.map { case (t, _, mk) =>
        val t0 = System.nanoTime()
        val rows = sp(s"stage.$t") {
          val df = mk()
          sp("Sinks.stagePublish")(Sinks.stagePublish(df, s"${c.wh}/$t"))
        }
        Pipeline.LoadStat(t, rows, secs(t0))
      }
      val bad = sp("Pipeline.validateLoad")(Pipeline.validateLoad(c.spark, c.wh, stats))
        .filterNot(k => k.ok && k.schema_ok)
      require(bad.isEmpty, s"post-load validation failed: ${bad.mkString("; ")}")
      stats
    }
  }

  /** Traced-run check, against `Pipeline.run` run again here, untimed,
    * into a side directory: its stage list is still `all`, and the
    * replay published its tables in the same order with the same row
    * counts (the replay may run a subset of the stages).
    */
  def checkReplay(c: Ctx, mode: Pipeline.Mode, all: Seq[String],
                  replayed: Seq[Pipeline.LoadStat]): Unit = {
    val viaRun = Pipeline.run(c.spark, c.in, s"${c.work}/replay_check", mode = mode)
      .map(s => s.table -> s.rows)
    val mine = replayed.map(s => s.table -> s.rows)
    if (viaRun.map(_._1) != all || viaRun.filter(r => mine.exists(_._1 == r._1)) != mine)
      c.problems += s"stage replay drifted from Pipeline.run: run=$viaRun replay=$mine"
  }

  /** The analyst runs the eight queries this many times, each round in
    * its own seed-shuffled order: with one round a run had only eight
    * ops, and its median and tail followed the order the cold queries
    * ran in. A later round is not faster than the first (about 9 s on
    * four cores), so a third round would not fit the run budget.
    */
  val sqlRounds = 2

  class RetailWarehouse(c: Ctx) extends Workload {
    private val stages = retailStages(c.spark, c.in)
    private var last = Seq.empty[Pipeline.LoadStat]
    /** Per query: the digest of its answer and its row count. */
    var answers: Map[String, String] = Map.empty
    var rowCounts: Map[String, Long] = Map.empty

    override def replayCheck(): Unit =
      checkReplay(c, Pipeline.FullRun, stages.map(_._1), last)

    // FullRun publishes no artifacts today; one it starts to publish
    // counts in stored_mb
    def dirs: Seq[String] = Seq(c.wh, c.artifacts)

    def pass(i: Int): PassResult = {
      val stats = build(c, Pipeline.FullRun, stages, viaRun = true)
      require(stats.map(_.table) == stages.map(_._1), s"unexpected stage list ${stats.map(_.table)}")
      last = stats
      c.spans("Pipeline.registerWarehouse")(Pipeline.registerWarehouse(c.spark, c.wh))
      var failed = 0
      val order = (0 until sqlRounds).flatMap(k =>
        shuffled(ReferenceQueries.names, (c.o.seed * 1000 + i) * 10 + k))
      val ops = order.map { q =>
        val t0 = System.nanoTime()
        val rows = c.spans(s"sql.$q") {
          val df = c.spark.sql(ReferenceQueries.sql(q))
          c.spans("sql.plan")(df.queryExecution.executedPlan)
          c.spans("sql.exec")(df.collect())
        }
        val t = secs(t0)
        val d = digest(rows)
        if (answers.get(q).exists(_ != d)) {
          failed += 1
          c.problems += s"pass $i: $q answer differs from an earlier round"
        }
        answers += q -> d
        rowCounts += q -> rows.length.toLong
        t
      }
      PassResult(ops, failed)
    }

    def checks(): Seq[Check] = Seq(
      "stg_lineitem_clean" -> "q15_clean_lineitem", "dim_date" -> "q09_dim_date",
      "dim_customer" -> "q57_dim_customer_hashed", "dim_product" -> "q31_dim_product",
      "fact_sales" -> "q12_fact_sales", "mart_sales_performance" -> "q13_mart_sales_performance",
      "mart_category_analysis" -> "q14_mart_category_analysis").map { case (t, q) =>
      Check(t, SparkEntry.oracleSql(q), s"warehouse/$t/*.parquet")
    }
  }

  /** CurationRun's stages that the `curation_build` workload replays,
    * with the oracle each published table is checked against: the
    * Jaccard dedup route (which builds the LSH candidate and
    * verified-pair artifacts) and every TextAnalysis stage. A cold pass
    * of all 14 stages takes 70-100 s on four cores, more than the run
    * budget holds.
    */
  val curationSubset: Seq[(String, String)] = Seq(
    "corpus_quality" -> "t02_quality_score", "dedup_removals" -> "d07_dedup_pipeline",
    "boilerplate_census" -> "t13_boilerplate", "pii_scrub" -> "t14_pii_scrub",
    "corpus_splits" -> "t15_hash_split", "dsir_weights" -> "t16_dsir_weights")

  class CurationBuild(c: Ctx) extends Workload {
    private val all = curationStages(c.spark, c.in)
    private val stages = curationSubset.map(t => all.find(_._1 == t._1).get)
    private var last = Seq.empty[Pipeline.LoadStat]

    override def replayCheck(): Unit =
      checkReplay(c, Pipeline.CurationRun, all.map(_._1), last)

    def dirs: Seq[String] = Seq(c.wh, c.artifacts)

    def pass(i: Int): PassResult = {
      val stats = build(c, Pipeline.CurationRun, stages, viaRun = false)
      last = stats
      PassResult(stats.map(_.seconds), 0)
    }

    def checks(): Seq[Check] = curationSubset.map { case (t, q) =>
      Check(t, SparkEntry.oracleSql(q), s"warehouse/$t/*.parquet")
    }
  }

  /** K date slices covering every date, with seed-jittered month cuts;
    * slice i carries document and vector shard i of K.
    */
  def dailySchedule(seed: Long, k: Int): Seq[Pipeline.DailySlice] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val months = 84 // 1995-01 .. 2001-12
    val cuts = (1 until k).map(j => months * j / k + r.nextInt(5) - 2)
    // month-grain slices must start on day 01 and end on day 31
    def month(m: Int): Long = (1995 + m / 12) * 10000L + (m % 12 + 1) * 100L
    val froms = 0L +: cuts.map(m => month(m) + 1)
    val tos = cuts.map(m => month(m - 1) + 31) :+ 99999999L
    froms.zip(tos).zipWithIndex.map { case ((f, t), i) =>
      Pipeline.DailySlice(f, t, Some(i), Some(i))
    }
  }

  class DailyTicks(c: Ctx) extends Workload {
    val K = 6
    private val schedule = dailySchedule(c.o.seed, K)
    private val hookSpan = Map(
      "validate_extract" -> "Pipeline.gates", "fact_sales" -> "Facts.loadFactIncrement",
      "shard_dedup" -> "Dedup.shardIngest", "vec_index" -> "Similarity.vecShardIngest",
      "dedup_removals_standing" -> "Dedup.standingRemovals")

    def dirs: Seq[String] = Seq(c.wh, c.artifacts)

    def pass(i: Int): PassResult = {
      val marks = mutable.ArrayBuffer.empty[(String, Long)]
      def onStage(s: String): Unit = {
        val t = System.nanoTime()
        marks += s -> t
        c.spans.mark(hookSpan(s.takeWhile(_ != '[')), t)
      }
      try Pipeline.dailyRun(c.spark, c.in, c.wh, schedule, K, onStage = onStage)
      finally c.spans.endMark()
      val end = System.nanoTime()
      // a tick runs from its fact increment to the next tick or the rollup
      val bounds = marks.filter(m => m._1.startsWith("fact_sales") ||
        m._1 == "dedup_removals_standing").map(_._2) :+ end
      val ticks = marks.filter(_._1.startsWith("fact_sales")).map(_._2)
        .map(t0 => (bounds.find(_ > t0).get - t0) / 1e9)
      PassResult(ticks.toSeq, 0)
    }

    def checks(): Seq[Check] = Seq(
      Check("fact_sales", SparkEntry.oracleSql("q12_fact_sales"),
        "warehouse/fact_sales/*/*.parquet", drop = Seq("month_key")),
      Check("dedup_removals_standing",
        s"SELECT DISTINCT removed_doc_id FROM (${SparkEntry.oracleSql("d07_dedup_pipeline")})",
        "warehouse/dedup_removals_standing/*.parquet", select = Seq("removed_doc_id")))
  }

  class StreamIngest(c: Ctx) extends Workload {
    private val feeds = s"${c.work}/feeds"
    private val sinks = s"${c.work}/sinks"

    def dirs: Seq[String] = Seq(sinks)

    private def feed(name: String): DataFrame =
      c.spark.readStream.schema(Tables(c.spark, c.in, name).schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$feeds/$name")

    private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[Double] = {
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.toSeq.filter(_.numInputRows > 0)
        .map(p => p.durationMs.get("triggerExecution").doubleValue / 1e3)
    }

    def pass(i: Int): PassResult = {
      val facts = c.spans("streaming.FactStream") {
        val fact = FactStream.factStream(feed("lineitem"),
          Tables.orders(c.spark, c.in), Tables.part(c.spark, c.in))
        drain(FactStream.run(fact, s"$sinks/facts", s"$sinks/facts_ckpt"))
      }
      val curation = c.spans("streaming.CurationStream") {
        drain(CurationStream.ingest(feed("documents").select(col("doc_id"), col("text")),
          s"$sinks/curation_index", s"$sinks/curation_ckpt"))
      }
      val vectors = c.spans("streaming.CurationStream.vectors") {
        drain(CurationStream.ingestVectors(feed("embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb")),
          s"$sinks/vector_index", s"$sinks/vector_ckpt"))
      }
      PassResult(facts ++ curation ++ vectors, 0)
    }

    def checks(): Seq[Check] = {
      // the vector index has no oracle (its codebook is trained on the
      // first batch, so it depends on the chopping); it must hold every
      // embedding exactly once, with consistent cell sizes
      val index = Similarity.vecStandingIndex(c.spark, s"$sinks/vector_index")
      val nVecs = Tables.embeddings(c.spark, c.in).count()
      val badCells = index.groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n"), max(col("cell_size")).as("s"))
        .where(col("n") =!= col("s")).count()
      if (index.count() != nVecs || index.select(col("vec_id")).distinct().count() != nVecs ||
          badCells != 0)
        c.problems += s"vector stream index does not cover the $nVecs embeddings once"
      CurationStream.standingRemovals(c.spark, s"$sinks/curation_index")
        .write.mode("overwrite").parquet(s"${c.work}/checks/curation_removals")
      Seq(
        Check("stream_facts", SparkEntry.oracleSql("stream_facts"),
          "sinks/facts/*/*.parquet"),
        Check("stream_curation", SparkEntry.oracleSql("stream_curation"),
          "checks/curation_removals/*.parquet"))
    }
  }

  // ─── the run ──────────────────────────────────────────────────────────
  def main(args: Array[String]): Unit = {
    val jvmT0 = System.nanoTime()
    val o = Opts(args(0), args(1).toLong, args(2).toDouble, args(3) == "1", args(4), args(5),
      args(6).toInt, args(7))

    val spark = GraftSession.builder(s"local[${o.cores}]", o.cores)
      .config("spark.sql.warehouse.dir", s"${o.work}/artifacts")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkTrace = if (o.trace) Some(new SparkTrace) else None
    val streamTrace = if (o.trace) Some(new StreamTrace) else None
    sparkTrace.foreach(spark.sparkContext.addSparkListener)
    streamTrace.foreach(spark.streams.addListener)
    val sessionS = secs(jvmT0)

    val spans = new Spans(spark, o.trace)
    val c = new Ctx(spark, o, spans, streamTrace)
    val wl: Workload = o.workload match {
      case "retail_warehouse" => new RetailWarehouse(c)
      case "curation_build" => new CurationBuild(c)
      case "daily_ticks" => new DailyTicks(c)
      case "stream_ingest" => new StreamIngest(c)
      case w => sys.error(s"unknown workload $w")
    }

    // measured closed loop. There is no warm-up pass: each run measures
    // a cold pass, as a scheduled job in a fresh JVM pays it (a warm pass
    // would not fit the run budget).
    val heap = new HeapPoller
    heap.start()
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Double]
    val stored = mutable.ArrayBuffer.empty[Double]
    var failedOps = 0
    var thrown: Option[Throwable] = None
    val loopT0 = System.nanoTime()
    var i = 0
    while (thrown.isEmpty && (i < 1 || secs(loopT0) < o.seconds)) {
      if (i > 0) (wl.dirs :+ c.wh).distinct.foreach(rmrf)
      sparkTrace.foreach(_.reset())
      streamTrace.foreach(_.reset())
      spans.run = i
      val wallT0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val cpu0 = processCpuNs()
      heap.active = true
      try {
        // a pass ends by releasing what the workload cached, as a
        // long-lived session does between jobs
        val r = spans("pass") {
          val r = wl.pass(i)
          spans("GraftSession.releaseQueryCaches")(GraftSession.releaseQueryCaches(spark))
          r
        }
        val passS = secs(t0)
        passTimes += passS
        passCpu += (processCpuNs() - cpu0) / 1e9
        ops ++= r.ops
        failedOps += r.failed
        stored += wl.dirs.map(d => du(d)._2).sum / (1024.0 * 1024.0)
        sparkTrace.foreach { t =>
          t.awaitQuiet(spark.sparkContext)
          layerMetrics(c, t, wallT0, passS).foreach { case (k, v) => c.add(k, v) }
        }
      } catch {
        // an op that throws fails the run: it counts as one failed op and
        // its pass is not checked
        case e: Exception =>
          thrown = Some(e)
          c.problems += s"pass $i threw: ${e.toString.take(2000)}"
      } finally heap.active = false
      i += 1
    }
    heap.stop()
    val passes = passTimes.size

    // checks on the last pass's outputs (run.py compares with DuckDB)
    val finishT0 = System.nanoTime()
    val checks = if (thrown.isEmpty) wl.checks() else Nil
    val (sqlRows, sqlDigests) = wl match {
      case r: RetailWarehouse if thrown.isEmpty => (r.rowCounts, r.answers)
      case _ => (Map.empty[String, Long], Map.empty[String, String])
    }
    if (o.trace && thrown.isEmpty) wl.replayCheck()

    // tail: the run's second-slowest op, the nearest-rank percentile
    // 100 (n-1)/n that leaves one op beyond it in each run, so ten runs
    // pooled leave ten beyond it
    val sorted = ops.sorted.toSeq
    val tailIdx = math.max(0, sorted.size - 2)
    val tailPct = if (sorted.isEmpty) 0.0 else 100.0 * (tailIdx + 1) / sorted.size
    val endToEnd = Map(
      "setup_jvm_s" -> sessionS,
      "run_s" -> median(passTimes.toSeq),
      "run_cpu_s" -> median(passCpu.toSeq),
      "op_p50_s" -> median(sorted),
      "op_tail_s" -> sorted.lift(tailIdx).getOrElse(0.0),
      "stored_mb" -> median(stored.toSeq),
      "peak_heap_mb" -> heap.peak / (1024.0 * 1024.0))

    val perLayer: Map[String, Double] =
      if (!o.trace) Map.empty
      else {
        val avg = c.layer.map { case (k, v) => k -> v / math.max(1, passes) }.toMap
        avg ++ Map(
          "GraftSession.start_s" -> sessionS,
          "trace.run_s" -> median(passTimes.toSeq))
      }
    val spanRows =
      if (!o.trace) Nil
      else {
        val self = spans.selfSeconds
        spans.all.map(s => Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
          "end_ns" -> s.end, "parent" -> s.parent, "run" -> s.run,
          "self_s" -> self(s.id)))
      }

    val result = Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "cores" -> o.cores, "input_dir" -> o.in,
      "spark_version" -> spark.version,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "passes" -> passes, "ops" -> (sorted.size + thrown.size),
      "failed_ops" -> (failedOps + thrown.size),
      "op_tail_percentile" -> tailPct,
      "session_s" -> sessionS, "finish_s" -> secs(finishT0), "main_s" -> secs(jvmT0),
      "pass_s" -> passTimes.toSeq, "op_s" -> ops.toSeq,
      "stored_files_bytes" -> wl.dirs.flatMap { d =>
        val p = Paths.get(d)
        if (!Files.exists(p)) Nil
        else Files.list(p).toArray.toSeq.map(_.toString).map(k => k -> du(k).productIterator.toSeq)
      }.toMap,
      "end_to_end" -> endToEnd, "per_layer" -> perLayer,
      "problems" -> c.problems.toSeq,
      "sql_rows" -> sqlRows, "sql_digests" -> sqlDigests,
      "sql_oracle" -> SparkEntry.oracleSql("r_sql_parity"),
      "checks" -> checks.map(k => Map("name" -> k.name, "oracle" -> k.oracle,
        "glob" -> k.glob, "select" -> k.select, "drop" -> k.drop)),
      "spans" -> spanRows)
    Files.write(Paths.get(o.out), Json(result).getBytes("UTF-8"))
    spark.stop()
  }

  /** Per-layer metrics of one traced pass. */
  def layerMetrics(c: Ctx, t: SparkTrace, wallT0: Long, passS: Double): Map[String, Double] = {
    val sp = c.spans
    val run = sp.run
    val m = mutable.Map.empty[String, Double]
    m ++= SparkTrace.metrics(t, wallT0, passS, c.o.cores)
    def spanS(name: String): Double = sp.seconds(run, _ == name)
    Seq("Pipeline.healthCheck", "Pipeline.gates", "Pipeline.validateLoad",
      "Pipeline.registerWarehouse", "GraftSession.releaseQueryCaches",
      "Sinks.stagePublish", "Facts.loadFactIncrement", "Dedup.shardIngest",
      "Similarity.vecShardIngest", "Dedup.standingRemovals", "sql.plan", "sql.exec")
      .foreach(n => m(s"${n}_s") = spanS(n))
    ReferenceQueries.names.foreach(q => m(s"sql.${q}_s") = spanS(s"sql.$q"))
    val stageModule = (retailStages(c.spark, c.in) ++ curationStages(c.spark, c.in))
      .map(s => s._1 -> s._2).toMap
    stageModule.keys.foreach(tb => m(s"stage.${tb}_s") = spanS(s"stage.$tb"))
    // the operator module a span's calls run in: build stages, daily-tick
    // hooks ("Facts.loadFactIncrement") and the stream drains
    val streamModule = Map("streaming.FactStream" -> "Facts",
      "streaming.CurationStream" -> "Dedup", "streaming.CurationStream.vectors" -> "Similarity")
    def moduleOf(n: String): Option[String] =
      if (n.startsWith("stage.")) stageModule.get(n.stripPrefix("stage."))
      else streamModule.get(n).orElse(modules.find(mod => n.startsWith(s"$mod.")))
    modules.foreach { mod =>
      val inMod: String => Boolean = n => moduleOf(n).contains(mod)
      // a job belongs to the module when any span on its path does
      val (jobs, shuffleMb) = SparkTrace.spanTotals(t, _.split("/").exists(inMod))
      m(s"${mod}_s") = sp.seconds(run, inMod)
      m(s"$mod.jobs") = jobs
      m(s"$mod.shuffle_mb") = shuffleMb
    }
    // Sinks: what the pass published under the warehouse and artifact root
    val (files, bytes) = du(c.wh)
    m("Sinks.files_written") = files
    m("Sinks.mb_written") = bytes / (1024.0 * 1024.0)
    val artRoot = Paths.get(c.artifacts)
    val artifactDirs =
      if (!Files.exists(artRoot)) Seq.empty[Path]
      else Files.list(artRoot).toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(Files.isDirectory(_))
        .flatMap(f => Files.list(f).toArray.toSeq.map(_.asInstanceOf[Path]))
        .filter(Files.isDirectory(_))
    m("Sinks.artifacts_built") = artifactDirs.size
    m("Sinks.artifact_mb") = artifactDirs.map(d => du(d.toString)._2).sum / (1024.0 * 1024.0)
    // streaming
    val batches = c.streamTrace.map(_.snapshot()).getOrElse(Nil)
    m("streaming.batches") = batches.size
    m("streaming.batch_p50_s") = median(batches.map(_.triggerS))
    m("streaming.addBatch_s") = batches.map(_.addBatchS).sum
    m("streaming.overhead_s") = batches.map(b => b.triggerS - b.addBatchS).sum
    m("streaming.input_rows") = batches.map(_.inputRows).sum
    m("streaming.state_rows") = batches.map(_.stateRows).sum
    Seq("FactStream", "CurationStream", "CurationStream.vectors")
      .foreach(s => m(s"streaming.${s}_s") = spanS(s"streaming.$s"))
    m.toMap
  }
}
