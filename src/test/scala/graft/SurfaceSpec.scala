package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The unreferenced surface of src/main is a reviewed set: every public
  * or `private[graft]` def, object, class or trait whose name nothing
  * else in src/main or perfbench/src names must be on the list below,
  * with the reason it stays. Code only a spec reaches either gets a
  * production caller or goes; a stale entry fails too, so the list
  * can only shrink. The default-valued parameters of that surface are
  * a second reviewed list, since a name scan cannot see values.
  */
class SurfaceSpec extends AnyFunSuite {

  private val reviewed: Map[String, String] = Map(
    // mains and entry points named outside the code
    "Bench" -> "main: the driver's benchmark (runMain graft.Bench)",
    "Verify" -> "main: the correctness dump scripts/check.py reads",
    "Explain" -> "main: prints a query's plans (runMain graft.tools.Explain)",
    "ScaleGen" -> "main: writes the scaled input tables",
    "StrongScale" -> "main: the strong-scaling record",
    "GraftExtensions" -> "loaded by class name through spark.sql.extensions",
    "SparkEntry.entry" -> "the driver contract's entry point",
    "Fetch.call" -> "Callable.call of the per-attempt fetch task; the executor service calls it",
    // operator entry points: what a deployment or a notebook calls
    "Pipeline.runNotified" -> "operator entry: a run with the alert surface",
    "Pipeline.dailyRunNotified" -> "operator entry: the daily schedule with the alert surface",
    "Pipeline.cleanupOldLogs" -> "operator entry: the DAG's cleanup_old_logs task",
    "Pipeline.writeRunLog" -> "operator entry: publishes a run's log table",
    "Dedup.compactIndex" -> "operator entry: folds the standing shard index's partitions into one",
    "CosineSimilarity.register" -> "operator entry: registers cosine_similarity as a SQL function in a user session",
    "EventsStream.attributionCensusStart" -> "operator entry: starts the continuous attribution census",
    "EventsStream.servedAttributionCensus" -> "operator entry: serves the standing attribution census",
    // reference twins and spec harnesses
    "Dedup.removalSetOf" -> "reference twin: the full-rebuild removal set the incremental shard path is checked against",
    "TextAnalysis.dsirWeightsFrame" -> "reference twin: the artifact-free DSIR weights the published-model path is checked against",
    "VectorFunctions.cosine" -> "reference twin: the higher-order-function cosine the fused expression is checked against",
    "EventsStream.attributionCensusBatch" -> "batch twin the foreachBatch census is checked against",
    "EventsStream.runToMemory" -> "spec harness: drains a stream into a memory sink",
    "EventsStream.Event" -> "row type of the event streams' typed feeds",
    "DocStream.Doc" -> "row type of the document stream's typed feed",
    "FactStream.LineitemEvent" -> "row type of the fact stream's typed feed",
    // the Multimodal codec tier: no oracle row runs it (CHANGES.md FOUND line)
    "Multimodal.AviMjpegCodec" -> "codec tier: MJPEG-in-AVI video codec",
    "Multimodal.audioFingerprint" -> "codec tier: spectral audio fingerprint",
    "Multimodal.videoFingerprint" -> "codec tier: temporal video fingerprint",
    "Multimodal.perceptualDctHash" -> "codec tier: DCT perceptual hash",
    "Multimodal.extractFeatures" -> "codec tier: per-row feature extraction",
    "Multimodal.mediaTable" -> "codec tier: the binary media table",
    "Multimodal.resize" -> "codec tier: payload truncation",
    // mains: the JVM calls them by name
    "Bench.main" -> "main: the JVM entry point",
    "Verify.main" -> "main: the JVM entry point",
    "Explain.main" -> "main: the JVM entry point",
    "ScaleGen.main" -> "main: the JVM entry point",
    "ScaleBench.main" -> "main: the JVM entry point",
    "StrongScale.main" -> "main: the JVM entry point")

  /** `src` with every comment removed and every string literal kept, so
    * a name inside `${…}` or a query-name string still counts as a use.
    */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("//", i)) {
        while (i < n && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) { // Scala block comments nest
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (src.startsWith("\"\"\"", i)) {
        val close = src.indexOf("\"\"\"", i + 3)
        var end = if (close < 0) n else close + 3
        while (end < n && src(end) == '"') end += 1
        out ++= src.substring(i, end)
        i = end
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') {
          if (src(j) == '\\') j += 1
          j += 1
        }
        val end = math.min(j + 1, n)
        out ++= src.substring(i, end)
        i = end
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') { // 'c'
        out ++= src.substring(i, i + 3)
        i += 3
      } else if (src(i) == '\'' && i + 1 < n && src(i + 1) == '\\') { // '\n', '\u0000'
        val end = src.indexOf('\'', i + 2) + 1
        out ++= src.substring(i, end)
        i = end
      } else {
        out += src(i)
        i += 1
      }
    }
    out.toString
  }

  private def sources(dir: String): Seq[(Path, String)] = {
    val stream = Files.walk(Paths.get(dir))
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> stripComments(new String(Files.readAllBytes(p), "UTF-8")))
    finally stream.close()
  }

  private lazy val main = sources("src/main/scala")
  private lazy val bench = sources("perfbench/src")
  private def stemOf(p: Path): String = p.getFileName.toString.stripSuffix(".scala")

  // a member definition at the start of a line: its modifiers, kind, name
  private val Def = """(?m)^[ \t]*((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+|sealed\s+|abstract\s+|case\s+|lazy\s+)*)(def|object|class|trait)\s+([A-Za-z_]\w*)""".r

  /** Public or `private[graft]` definitions of src/main: (stem, modifiers, kind, name, end of match). */
  private lazy val surface: Seq[(String, String, String, String, Int)] = main.flatMap { case (p, text) =>
    Def.findAllMatchIn(text).collect {
      case m if !m.group(1).split("\\s+").exists(w =>
          w == "override" || w.startsWith("protected") ||
            (w.startsWith("private") && w != "private[graft]")) =>
        (stemOf(p), m.group(1), m.group(2), m.group(3), m.end)
    }
  }

  test("every def, object or class that nothing in src/main or perfbench/src names is reviewed") {
    val files = (main ++ bench).map { case (p, t) => (stemOf(p), t) }
    val stems = files.map(_._1).toSet
    // `import a.b.X._` makes X's members usable unqualified in that file
    val WildImport = """import\s+[\w.]*?\b(\w+)\._""".r
    val wild = files.map { case (stem, t) =>
      stem -> WildImport.findAllMatchIn(t).map(_.group(1)).toSet
    }.groupBy(_._1).view.mapValues(_.flatMap(_._2).toSet).toMap
    // the qualifier before `.name` (or `.{…, name`), if it is a word
    val Qualified = """(?:(\w+)|\W)?\.(?:\{[^}\n]*)?$""".r
    /** Occurrences that can name `owner`'s `name`: one qualified by an
      * object stem (`Sketches.cmsCells`) names that object's member
      * only; an unqualified one names a member of its own file (or of a
      * wildcard-imported object); one qualified by a value names any.
      */
    def uses(owner: String, name: String): Int = {
      val Name = s"(?<![\\w$$])${java.util.regex.Pattern.quote(name)}(?![\\w$$])".r
      files.map { case (stem, t) =>
        Name.findAllMatchIn(t).count { m =>
          val lineStart = t.lastIndexOf('\n', m.start - 1) + 1
          Qualified.findFirstMatchIn(t.substring(lineStart, m.start)) match {
            case Some(q) => q.group(1) == null || !stems(q.group(1)) || q.group(1) == owner
            case None => stem == owner || wild(stem)(owner)
          }
        }
      }.sum
    }
    val AnyDef = """\b(?:def|object|class|trait)\s+([A-Za-z_]\w*)""".r
    val defSites = main.flatMap { case (p, t) =>
      AnyDef.findAllMatchIn(t).map(m => (stemOf(p), m.group(1)))
    }
    def anywhere(name: String): Int = files.map { case (_, t) =>
      s"(?<![\\w$$])${java.util.regex.Pattern.quote(name)}(?![\\w$$])".r
        .findAllMatchIn(t).size }.sum
    // unreferenced: every occurrence that can name it is one of its own
    // definitions; a file's top-level object is counted by name anywhere
    val found = surface.filter { case (stem, _, _, name, _) =>
      if (name == stem) anywhere(name) <= defSites.count(_._2 == name)
      else uses(stem, name) <= defSites.count(_ == ((stem, name)))
    }.map { case (stem, _, _, name, _) => if (name == stem) name else s"$stem.$name" }
      .toSet
    assert(reviewed.values.forall(_.nonEmpty))
    val unreviewed = (found -- reviewed.keySet).toSeq.sorted
    val stale = (reviewed.keySet -- found).toSeq.sorted
    assert(unreviewed.isEmpty,
      s"nothing in src/main or perfbench/src reaches these; give each a caller, delete it, or review it here: $unreviewed")
    assert(stale.isEmpty, s"reviewed entries that are now referenced or gone; drop them: $stale")
  }

  /** Every default-valued parameter of a public or `private[graft]`
    * def or case class in src/main, as `Stem.def(param)`, with why it
    * is settable: a deployment setting, a test seam for a size-selected
    * branch, or production callers that pass different values.
    */
  private val reviewedOptions: Map[String, String] = Map(
    "AnomalyStream.anomalies(horizon)" -> "deployment setting: the watermark lag of the live feed",
    "BasketGuard.requireWidth(bound)" -> "deployment setting: the basket-width ceiling of the co-purchase queries",
    "Cleaning.apiRatingsFeed(fetcher)" -> "deployment setting: the live API fetcher a deployment injects in place of the file feed",
    "Dedup.connectedComponents(maxHops)" -> "deployment setting: the hop ceiling that aborts a runaway label propagation",
    "Dedup.containmentDedupOf(slices)" -> "test seam for a size-selected branch: d35 forces the sliced verify the scratch budget selects at scale",
    "Dedup.containmentDedupOfDocs(slices)" -> "test seam for a size-selected branch: the sliced verify on a spec corpus",
    "Dedup.ingestShardCore(creationBanding)" -> "two production callers: shardIngest passes the d26 banding, CurationStream the (6, 3) default",
    "Dedup.removalSetOf(banding)" -> "reference twin: the full-rebuild removal set at the banding the incremental path under test used",
    "Dedup.verifySlices(scratchBudgetBytes)" -> "deployment setting: spark.graft.scratch.budget.bytes",
    "Dedup.wordShinglesOf(dedup)" -> "two production callers with different values",
    "Dedup.wordShinglesOf(withLang)" -> "two production callers with different values",
    "DocStream.dedupIngest(horizon)" -> "two production callers: gatedIngest passes its caller's horizon",
    "DocStream.gatedIngest(horizon)" -> "two production callers: stream_dedup passes 36500 days, a deployment keeps the 1-hour state bound",
    "EventsStream.attributionCensusStart(compactAfter)" -> "deployment setting: how many census partitions a batch keeps before it compacts",
    "Fetch.fetchWithRetries(retries)" -> "deployment setting: the DAG's retries",
    "Fetch.fetchWithRetries(timeoutMs)" -> "deployment setting: the per-attempt request timeout",
    "Fetch.readJsonPayload(retries)" -> "deployment setting: the DAG's retries",
    "Fetch.readJsonPayload(timeoutMs)" -> "deployment setting: the per-attempt request timeout",
    "GraftSession.apply(master)" -> "two production callers with different values (Bench, the tools)",
    "GraftSession.apply(shufflePartitions)" -> "two production callers with different values (Bench, ScaleBench)",
    "GraftSession.builder(env)" -> "deployment setting: the environment the session reads its overrides from",
    "GraftSession.builder(master)" -> "two production callers with different values (Verify, perfbench)",
    "GraftSession.builder(shufflePartitions)" -> "two production callers with different values (Verify, perfbench)",
    "Multimodal.audioFingerprint(codecFactory)" -> "codec tier: the codec a deployment plugs in",
    "Multimodal.extractFeatures(codecFactory)" -> "codec tier: the codec a deployment plugs in",
    "Multimodal.extractFeaturesByCell(codecFactory)" -> "deployment setting: the codec a deployment plugs in",
    "Multimodal.extractFeaturesByCell(numPartitions)" -> "deployment setting: the decode stage's width",
    "Multimodal.extractFeaturesByCell(saltBuckets)" -> "deployment setting: the hot-cell salt fan-out",
    "Multimodal.perceptualDctHash(codecFactory)" -> "codec tier: the codec a deployment plugs in",
    "Multimodal.perceptualHash(codecFactory)" -> "deployment setting: the codec a deployment plugs in",
    "Multimodal.videoFingerprint(codecFactory)" -> "codec tier: the codec a deployment plugs in",
    "Multimodal.phashNearDup(maxHamming)" -> "deployment setting: the near-duplicate Hamming radius",
    "Pipeline.DailySlice(docShard)" -> "two production callers: perfbench's schedule passes a shard, a fact-only day none",
    "Pipeline.DailySlice(vecShard)" -> "two production callers: perfbench's schedule passes a shard, a fact-only day none",
    "Pipeline.LoadCheck(schema_diff)" -> "two production callers: validateLoad sets it for an unreadable table",
    "Pipeline.LoadCheck(schema_ok)" -> "two production callers: validateLoad sets it for an unreadable table",
    "Pipeline.cleanupOldLogs(now)" -> "deployment setting: the clock the retention window is measured from",
    "Pipeline.dailyRun(onStage)" -> "two production callers: dailyRunNotified and perfbench pass their own",
    "Pipeline.dailyRun(onStat)" -> "two production callers: dailyRunNotified passes its own",
    "Pipeline.dailyRun(validateFirst)" -> "two production callers: dailyRunNotified passes its caller's value",
    "Pipeline.dailyRunNotified(runId)" -> "deployment setting: the scheduler's run id",
    "Pipeline.dailyRunNotified(stageSlaSeconds)" -> "deployment setting: the DAG's per-stage SLA",
    "Pipeline.dailyRunNotified(validateFirst)" -> "deployment setting: skip the extract gate on a re-run",
    "Pipeline.healthCheck(mode)" -> "two production callers with different values",
    "Pipeline.registerWarehouseCatalog(database)" -> "deployment setting: the catalog database name",
    "Pipeline.run(mode)" -> "two production callers with different values (FullRun, CurationRun)",
    "Pipeline.run(validateFirst)" -> "deployment setting: skip the extract gate on a re-run",
    "Pipeline.runNotified(mode)" -> "deployment setting: which run the scheduler starts",
    "Pipeline.runNotified(runId)" -> "deployment setting: the scheduler's run id",
    "Pipeline.runNotified(stageSlaSeconds)" -> "deployment setting: the DAG's per-stage SLA",
    "Pipeline.runNotified(validateFirst)" -> "deployment setting: skip the extract gate on a re-run",
    "Scd2.merge(farFuture)" -> "deployment setting: the open-ended valid_to sentinel",
    "Scd2.mergeInto(farFuture)" -> "deployment setting: the open-ended valid_to sentinel",
    "Sinks.artifactKey(keyFile)" -> "two production callers with different values (documents, embeddings)",
    "Sinks.artifactPath(keyFile)" -> "two production callers with different values (documents, embeddings)",
    "Sinks.artifactPath(tag)" -> "two production callers with different values (v1, v3, holdout5, shard5)",
    "Sinks.ensureBuilt(format)" -> "two production callers with different values (parquet, json)",
    "Sinks.hiddenSibling(kind)" -> "two production callers with different values (staging, old)",
    "Sinks.stage(format)" -> "two production callers with different values (parquet, json)")

  /** The parameter lists right after a definition's name (type
    * parameters skipped), each split into its top-level parameters.
    */
  private def paramLists(text: String, from: Int): Seq[Seq[String]] = {
    def close(i: Int, open: Char, shut: Char): Int = {
      var depth = 0
      var j = i
      var inStr = false
      while (j < text.length && !(depth == 1 && text(j) == shut && !inStr)) {
        val c = text(j)
        if (c == '"') inStr = !inStr
        else if (!inStr && c == open) depth += 1
        else if (!inStr && c == shut) depth -= 1
        j += 1
      }
      j
    }
    def split(body: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer(new StringBuilder)
      var depth = 0
      var inStr = false
      body.foreach { c =>
        if (c == '"') inStr = !inStr
        if (!inStr && "([{".contains(c)) depth += 1
        if (!inStr && ")]}".contains(c)) depth -= 1
        if (c == ',' && depth == 0 && !inStr) out += new StringBuilder
        else out.last += c
      }
      out.map(_.toString.trim).filter(_.nonEmpty).toSeq
    }
    var i = from
    def skipWs(): Unit = while (i < text.length && text(i).isWhitespace) i += 1
    skipWs()
    if (i < text.length && text(i) == '[') { i = close(i, '[', ']') + 1; skipWs() }
    val lists = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    while (i < text.length && text(i) == '(') {
      val end = close(i, '(', ')')
      lists += split(text.substring(i + 1, end))
      i = end + 1
      skipWs()
    }
    lists.toSeq
  }

  /** `name: Type = default` → name, for a parameter with a default. */
  private val Defaulted = """(?s)^(?:implicit\s+)?(?:(?:val|var)\s+)?(\w+)\s*:.*?[^=<>!]=(?![=>]).*$""".r

  test("every default-valued parameter of the src/main surface is reviewed") {
    val options = surface.collect {
      case (stem, mods, kind, name, end) if kind == "def" || mods.contains("case") =>
        val text = main.find(f => stemOf(f._1) == stem).get._2
        paramLists(text, end).flatten.collect { case Defaulted(param) =>
          s"$stem.$name($param)"
        }
    }.flatten.toSet
    assert(reviewedOptions.values.forall(_.nonEmpty))
    val unreviewed = (options -- reviewedOptions.keySet).toSeq.sorted
    val stale = (reviewedOptions.keySet -- options).toSeq.sorted
    assert(unreviewed.isEmpty,
      s"a default-valued parameter is a settable value; justify it here or make it a constant: ${unreviewed.mkString("\n")}")
    assert(stale.isEmpty, s"reviewed options that are now gone; drop them: $stale")
  }
}
