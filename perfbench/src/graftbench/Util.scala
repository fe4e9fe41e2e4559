package graftbench

import java.lang.management.ManagementFactory

/** Polls JVM heap used every 5 ms from a daemon thread and keeps the
  * peak seen while `active` is set.
  */
class HeapPoller {
  @volatile var active = false
  @volatile private var running = true
  @volatile var peak = 0L
  private val bean = ManagementFactory.getMemoryMXBean
  private val thread = new Thread(() => {
    while (running) {
      if (active) peak = math.max(peak, bean.getHeapMemoryUsage.getUsed)
      Thread.sleep(5)
    }
  }, "graftbench-heap")
  thread.setDaemon(true)

  def start(): Unit = thread.start()
  def stop(): Unit = { running = false; thread.join() }
}

/** Minimal JSON encoder for the result file: maps, sequences, strings,
  * numbers, booleans and options.
  */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    b += '"'
    b.toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }
}
