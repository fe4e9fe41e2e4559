package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** In-memory spans around the benchmark's calls into graft. A span has
  * a name, start and end (ns), its parent span and the run (pass) id;
  * spans stay in memory and are written once, when the benchmark ends.
  * When tracing is off every method only runs the body, so the
  * untraced runs that give the end-to-end metrics pay nothing.
  *
  * The path of open span names ("pass/stage.fact_sales/Sinks.stagePublish")
  * is set as the `graftbench.span` local property on the calling
  * thread; Spark copies it onto every job the body submits, so
  * [[SparkTrace]] can attribute engine work to spans. Spans are opened
  * from the benchmark's driver thread only.
  */
class Spans(spark: SparkSession, val enabled: Boolean) {
  case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, run: Int)

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long)]
  private var nextId = 0
  private var openMark: Option[(Int, String, Long)] = None
  var run = 0

  private def publishPath(): Unit = spark.sparkContext.setLocalProperty(
    SparkTrace.SpanKey,
    if (stack.isEmpty) null else stack.reverse.map(_._2).mkString("/"))

  private def open(name: String, t0: Long): (Int, String, Long) = {
    nextId += 1
    val s = (nextId, name, t0)
    stack = s :: stack
    publishPath()
    s
  }

  private def close(s: (Int, String, Long), t1: Long): Unit = {
    stack = stack.filterNot(_._1 == s._1)
    publishPath()
    done += Span(s._1, s._2, s._3, t1, stack.headOption.map(_._1).getOrElse(0), run)
  }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name, System.nanoTime())
      try body finally close(s, System.nanoTime())
    }

  /** For callback hooks that announce the next phase (dailyRun's
    * `onStage`): end the previous marked span at `t` and open `name`.
    */
  def mark(name: String, t: Long): Unit = if (enabled) {
    openMark.foreach(close(_, t))
    openMark = Some(open(name, t))
  }

  def endMark(): Unit = if (enabled) {
    openMark.foreach(close(_, System.nanoTime()))
    openMark = None
  }

  def all: Seq[Span] = done.toList

  /** Total seconds of the spans of `run` whose name satisfies `p`. */
  def seconds(run: Int, p: String => Boolean): Double =
    done.filter(s => s.run == run && p(s.name)).map(s => (s.end - s.start) / 1e9).sum

  /** Each span's duration minus the part of it its children cover. */
  def selfSeconds: Map[Int, Double] = {
    val kids = done.toList.groupBy(_.parent)
    done.map { s =>
      val covered = Spans.unionLength(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      s.id -> ((s.end - s.start) - covered) / 1e9
    }.toMap
  }
}

object Spans {
  /** Length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, hi), (a, b)) =>
      if (b <= hi) (sum, hi) else (sum + (b - math.max(a, hi)), b)
    }._1
}
