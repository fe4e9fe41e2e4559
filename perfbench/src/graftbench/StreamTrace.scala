package graftbench

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Micro-batch progress of every streaming query, read through Spark's
  * public StreamingQueryListener. One row per batch that read input.
  */
class StreamTrace extends StreamingQueryListener {
  case class Batch(query: String, batchId: Long, triggerS: Double,
                   addBatchS: Double, inputRows: Long, stateRows: Long)

  private val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0) {
      def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      batches += Batch(Option(p.name).getOrElse(""), p.batchId,
        ms("triggerExecution") / 1e3, ms("addBatch") / 1e3, p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  def reset(): Unit = synchronized(batches.clear())

  def snapshot(): Seq[Batch] = synchronized(batches.toList)
}
