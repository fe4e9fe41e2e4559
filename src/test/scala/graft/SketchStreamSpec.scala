package graft

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{EventsStream, SketchStream}
import graft.operators.Sketches
import graft.streaming.DocStream.Doc

/** The streaming sketch: HLL registers maintained continuously must
  * equal a batch build over everything that ever arrived — across
  * multiple micro-batches, with no watermark, because the sketch's
  * state is constant-size by construction.
  */
class SketchStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mkDocs(rnd: Random, n: Int, idBase: Long): Seq[Doc] =
    (1 to n).map { i =>
      val words = Seq.fill(5 + rnd.nextInt(30))(s"w${rnd.nextInt(300)}")
      Doc(idBase + i, s"s${rnd.nextInt(3)}", "en", words.mkString(" "),
        Timestamp.valueOf("2024-01-01 10:00:00"))
    }

  test("streamed HLL registers equal the batch build over the full history") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new Random(71)
    val (b1, b2, b3) = (mkDocs(rnd, 20, 0), mkDocs(rnd, 20, 100), mkDocs(rnd, 20, 200))

    val src = MemoryStream[Doc]
    src.addData(b1: _*)
    src.addData(b2: _*)
    src.addData(b3: _*)
    val streamed = EventsStream.runToMemory(
      SketchStream.hllRegisters(src.toDF()), "hll_regs", OutputMode.Complete())
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap

    val all = (b1 ++ b2 ++ b3).toDF()
    val batch = SketchStream.hllRegisters(all)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(streamed == batch, "stream == batch, register for register")
    // the state bound: never more than sources × 256 rows
    assert(streamed.size <= 3 * 256)
  }

  test("streamed CMS cells equal the batch grid over the full history") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new Random(72)
    val (b1, b2, b3) = (mkDocs(rnd, 20, 0), mkDocs(rnd, 20, 100), mkDocs(rnd, 20, 200))
    val src = MemoryStream[Doc]
    src.addData(b1: _*)
    src.addData(b2: _*)
    src.addData(b3: _*)
    val streamed = EventsStream.runToMemory(
      Sketches.cmsCells(src.toDF()), "cms_cells", OutputMode.Complete())
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = Sketches.cmsCells((b1 ++ b2 ++ b3).toDF())
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch, "stream == batch, cell for cell")
    // the state bound: the 4×1024 grid, nothing else
    assert(streamed.size <= 4 * 1024)
    // total mass = occurrences × depth (each occurrence lands in D rows)
    val occ = (b1 ++ b2 ++ b3).map(_.text.split("\\s+").count(_.nonEmpty)).sum
    assert(streamed.values.sum == occ.toLong * 4)
  }
}
