package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Engine-side counters for the traced run, through Spark's public
  * SparkListener API. Every job carries the path of benchmark spans that
  * submitted it (the `graftbench.span` local property, set by [[Spans]]),
  * so stage metrics can be summed per span as well as per pass.
  *
  * Events arrive on Spark's listener-bus thread; the benchmark calls
  * [[awaitQuiet]] before it reads a [[snapshot]].
  */
class SparkTrace extends SparkListener {
  case class StageRow(span: String, start: Long, end: Long, tasks: Int,
                      taskS: Double, cpuS: Double, gcS: Double,
                      shuffleWriteB: Long, shuffleReadB: Long, spillB: Long,
                      inputB: Long, outputB: Long)

  private val stageSpan = mutable.Map.empty[Int, String]
  private val jobSpan = mutable.Map.empty[Int, String]
  private val stages = mutable.ArrayBuffer.empty[StageRow]
  private var taskFailures = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SparkTrace.SpanKey)))
      .getOrElse("")
    jobSpan(e.jobId) = span
    e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!e.taskInfo.successful) taskFailures += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += StageRow(
      stageSpan.getOrElse(i.stageId, ""),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  /** Block until the listener bus has delivered every posted event. */
  def awaitQuiet(sc: org.apache.spark.SparkContext): Unit = org.apache.spark.ListenerDrain(sc)

  def reset(): Unit = synchronized {
    stageSpan.clear(); jobSpan.clear(); stages.clear(); taskFailures = 0
  }

  /** Jobs per span path, every completed stage, and failed tasks. */
  def snapshot(): (Map[String, Int], Seq[StageRow], Long) = synchronized {
    (jobSpan.values.groupBy(identity).map { case (k, v) => k -> v.size },
      stages.toList, taskFailures)
  }
}

object SparkTrace {
  val SpanKey = "graftbench.span"

  private val MB = 1024.0 * 1024.0

  /** The `spark.*` per-layer metrics over a window of `wallS` seconds
    * that started at `t0Ms` (epoch ms), on `cores` task slots.
    */
  def metrics(trace: SparkTrace, t0Ms: Long, wallS: Double,
              cores: Int): Map[String, Double] = {
    val (jobs, stages, failures) = trace.snapshot()
    val taskS = stages.map(_.taskS).sum
    // driver idle: wall time not covered by any stage's active interval
    val busy = Spans.unionLength(stages.filter(_.start > 0)
      .map(s => (math.max(s.start, t0Ms), s.end)).filter(x => x._2 > x._1)) / 1e3
    Map(
      "spark.jobs" -> jobs.values.sum.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> stages.map(_.tasks.toLong).sum.toDouble,
      "spark.task_failures" -> failures.toDouble,
      "spark.task_s" -> taskS,
      "spark.task_cpu_s" -> stages.map(_.cpuS).sum,
      "spark.gc_s" -> stages.map(_.gcS).sum,
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWriteB).sum / MB,
      "spark.shuffle_read_mb" -> stages.map(_.shuffleReadB).sum / MB,
      "spark.spill_mb" -> stages.map(_.spillB).sum / MB,
      "spark.input_mb" -> stages.map(_.inputB).sum / MB,
      "spark.output_mb" -> stages.map(_.outputB).sum / MB,
      "spark.driver_idle_s" -> math.max(0.0, wallS - busy),
      "spark.slot_busy_frac" -> taskS / (wallS * cores))
  }

  /** Jobs and shuffle MB of the work submitted under span paths that
    * satisfy `inSpan`.
    */
  def spanTotals(trace: SparkTrace, inSpan: String => Boolean): (Int, Double) = {
    val (jobs, stages, _) = trace.snapshot()
    (jobs.collect { case (k, v) if inSpan(k) => v }.sum,
      stages.filter(s => inSpan(s.span))
        .map(s => s.shuffleWriteB + s.shuffleReadB).sum / MB)
  }
}
