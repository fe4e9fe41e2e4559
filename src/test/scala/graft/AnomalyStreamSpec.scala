package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Events
import graft.streaming.{AnomalyStream, EventsStream}
import graft.streaming.EventsStream.Event

/** The streaming anomaly feed must agree with batch e07 on every row it
  * emits — same trailing-7-calendar-day statistics, same zero-filled
  * outage semantics, same ramp-in suppression — differing only in
  * COVERAGE (a stream can only finalize days its watermark has passed).
  */
class AnomalyStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(day: Int, hour: Int = 12) =
    Timestamp.valueOf(f"2024-03-$day%02d $hour%02d:00:00")

  // (event_type, day-of-March, n_events) — gaps are the point:
  // click has a one-day outage (11); buy has a 3-day mid-series gap
  // and sparse resumes; pay goes PERMANENTLY silent after day 10 while
  // the other keys keep the global watermark advancing
  private val plan: Seq[(String, Int, Int)] =
    (1 to 10).map(d => ("click", d, d % 3 + 1)) ++
      (12 to 16).map(d => ("click", d, 3)) ++
      (1 to 6).map(d => ("buy", d, 2)) ++
      Seq(("buy", 10, 4), ("buy", 12, 4)) ++
      (13 to 16).map(d => ("buy", d, 1)) ++
      (1 to 10).map(d => ("pay", d, 2))

  private val events: Seq[Event] = plan.flatMap { case (et, d, n) =>
    (1 to n).map(i => Event(d * 1000L + i, ts(d), i.toLong, et, 1.0))
  }

  test("stream anomalies == batch e07 on every finalized day, outage day included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    // three chronological chunks so the watermark advances mid-stream
    // and finalization happens across triggers, not in one flush
    val chunks = events.groupBy(_.ts.getTime / (6L * 86400000)).toSeq.sortBy(_._1)
    chunks.foreach { case (_, es) => src.addData(es: _*) }
    val out = EventsStream.runToMemory(
      AnomalyStream.anomalies(src.toDF()).toDF(), "anom_stream", OutputMode.Append())
      .collect()
    assert(out.nonEmpty, "watermark should have finalized at least the early days")

    // batch reference on the SAME corpus
    val daily = plan.toDF("event_type", "d", "n_events")
      .select(col("event_type"),
        to_date(concat(lit("2024-03-"), lpad(col("d"), 2, "0"))).as("activity_date"),
        col("n_events").cast("long"))
    val batch = Events.anomaliesOverCalendar(daily).collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Date]("activity_date").toString) -> r).toMap

    var checked = 0
    out.foreach { r =>
      val key = (r.getAs[String]("event_type"),
        r.getAs[java.sql.Date]("activity_date").toString)
      val b = batch.getOrElse(key, fail(s"stream emitted $key, batch did not"))
      assert(r.getAs[Long]("n_events") == b.getAs[Long]("n_events"), s"$key n")
      assert(r.getAs[Double]("mean7") == b.getAs[Double]("mean7"), s"$key mean7")
      assert(r.getAs[Double]("std7") == b.getAs[Double]("std7"), s"$key std7")
      val bz = Option(b.get(b.fieldIndex("z_score"))).map(_.asInstanceOf[Double])
      val sz = Option(r.get(r.fieldIndex("z_score"))).map(_.asInstanceOf[Double])
      assert(sz == bz, s"$key z")
      assert(r.getAs[Boolean]("is_anomaly") == b.getAs[Boolean]("is_anomaly"), s"$key flag")
      checked += 1
    }
    assert(checked >= 10, s"only $checked rows emitted — watermark never advanced?")

    // the advertised scenario: the complete outage day EMITS from the
    // stream (zero-filled), with a full constant... varying history
    val outage = out.find(r => r.getAs[String]("event_type") == "click" &&
      r.getAs[java.sql.Date]("activity_date").toString == "2024-03-11")
    assert(outage.isDefined, "outage day 2024-03-11 must be emitted by the stream")
    assert(outage.get.getAs[Long]("n_events") == 0L)

    // a PERMANENTLY silent key keeps alerting: pay stops on 03-10, but
    // other keys advance the watermark, so its outage days zero-fill
    // through the watermark frontier — the first outage day flags
    // (constant-2 history, 0 != mean), and emission does NOT stop at
    // the key's own last datum
    val payDays = out.filter(_.getAs[String]("event_type") == "pay")
      .map(_.getAs[java.sql.Date]("activity_date").toString).sorted
    assert(payDays.nonEmpty && payDays.last > "2024-03-10",
      s"silent key stopped emitting at its last datum: $payDays")
    val payOutage = out.find(r => r.getAs[String]("event_type") == "pay" &&
      r.getAs[java.sql.Date]("activity_date").toString == "2024-03-11").get
    assert(payOutage.getAs[Long]("n_events") == 0L &&
      payOutage.getAs[Boolean]("is_anomaly"),
      "the first day of a permanent outage must alert")

    // coverage is exactly the contiguous finalized range per type: no
    // holes between the first and last emitted day of each type
    out.groupBy(_.getAs[String]("event_type")).foreach { case (et, rows) =>
      val days = rows.map(_.getAs[java.sql.Date]("activity_date").toLocalDate)
        .sortBy(_.toString).toSeq
      days.sliding(2).foreach { pair =>
        if (pair.size == 2)
          assert(pair(0).plusDays(1) == pair(1),
            s"$et coverage hole between ${pair(0)} and ${pair(1)}")
      }
    }
  }
}
