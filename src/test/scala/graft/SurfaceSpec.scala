package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The unreferenced surface of src/main is a reviewed set: every public
  * or `private[graft]` def, object, class or trait whose name nothing
  * else in src/main or perfbench/src names must be on the list below,
  * with the reason it stays. Code only a spec reaches either gets a
  * production caller or goes; a stale entry fails too, so the list
  * can only shrink.
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
    "TextAnalysis.dsirPerSourceFrame" -> "artifact-free core of t18: the same dsirFeatsPs and dsirScorePs, a test seam, not a fork",
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
    "Multimodal.resize" -> "codec tier: payload truncation")

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

  test("every def, object or class that nothing in src/main or perfbench/src names is reviewed") {
    val main = sources("src/main/scala")
    val bench = sources("perfbench/src")
    // a member definition at the start of a line: its modifiers, kind, name
    val Def = """(?m)^[ \t]*((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+|sealed\s+|abstract\s+|case\s+|lazy\s+)*)(?:def|object|class|trait)\s+([A-Za-z_]\w*)""".r
    val AnyDef = """\b(?:def|object|class|trait)\s+([A-Za-z_]\w*)""".r
    val surface = main.flatMap { case (p, text) =>
      val stem = p.getFileName.toString.stripSuffix(".scala")
      Def.findAllMatchIn(text).collect {
        case m if !m.group(1).split("\\s+").exists(w =>
            w == "override" || w.startsWith("protected") ||
              (w.startsWith("private") && w != "private[graft]")) =>
          m.group(2) -> stem
      }
    }
    val defSites = main.flatMap { case (_, t) => AnyDef.findAllMatchIn(t).map(_.group(1)) }
      .groupBy(identity).view.mapValues(_.size).toMap
    val all = (main ++ bench).map(_._2).mkString("\n")
    def uses(name: String): Int =
      s"(?<![\\w$$])${java.util.regex.Pattern.quote(name)}(?![\\w$$])".r
        .findAllMatchIn(all).size
    // unreferenced: every occurrence of the name is one of its own definitions
    val found = surface.filter { case (name, _) => uses(name) <= defSites(name) }
      .map { case (name, stem) => if (name == stem) name else s"$stem.$name" }
      .toSet
    assert(reviewed.values.forall(_.nonEmpty))
    val unreviewed = (found -- reviewed.keySet).toSeq.sorted
    val stale = (reviewed.keySet -- found).toSeq.sorted
    assert(unreviewed.isEmpty,
      s"nothing in src/main or perfbench/src reaches these; give each a caller, delete it, or review it here: $unreviewed")
    assert(stale.isEmpty, s"reviewed entries that are now referenced or gone; drop them: $stale")
  }
}
