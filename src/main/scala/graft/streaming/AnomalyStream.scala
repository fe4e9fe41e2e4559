package graft.streaming

import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of e07 (Events.anomaliesOverCalendar): per
  * (event_type, day), the day's event volume z-scored against the
  * TRAILING 7 calendar days — the live alert feed behind "did clicks
  * fall off a cliff last night?", emitting as soon as the watermark
  * closes each day instead of waiting for a batch job.
  *
  * ONE stateful operator over the raw watermarked stream (no upstream
  * window aggregation — a stateful agg feeding flatMapGroupsWithState
  * is the chain Structured Streaming's checker rejects). State per
  * event_type is bounded and explicit:
  *
  *  - `pending`: per-day counts still inside the watermark horizon
  *    (≤ horizon days at any moment);
  *  - `ring`: the last ≤7 FINALIZED daily counts — the trailing window;
  *  - `lastDate`: the last calendar day pushed into the ring, so a gap
  *    between finalized days zero-fills exactly like the batch
  *    operator's calendar densification (an outage day EMITS, and
  *    "trailing 7" always means calendar days).
  *
  * A day finalizes when the event-time watermark passes its end; an
  * event-time timeout is armed at the earliest pending day's end so
  * quiet keys still flush on no-data batches. Events for days at or
  * before the last finalized day are DROPPED (the watermark contract —
  * same rows a watermarked window aggregation would discard).
  * Arithmetic matches the batch operator bit-for-bit: integer sums over
  * the ring, the explicit (7·Σn² − (Σn)²)/49 variance, single IEEE
  * divisions — AnomalyStreamSpec pins stream == batch on a gapped
  * corpus.
  */
object AnomalyStream {

  case class AnomalyRow(event_type: String, activity_date: java.sql.Date,
                        n_events: Long, mean7: Double, std7: Double,
                        z_score: Option[Double], is_anomaly: Boolean)

  /** Per-key state: ISO date strings keep the encoder trivial. */
  case class AnomState(lastDate: String, ring: Seq[Long], pending: Map[String, Long])

  private def utcDay(ts: java.sql.Timestamp): LocalDate =
    ts.toInstant.atZone(ZoneOffset.UTC).toLocalDate

  private def dayEndMs(d: LocalDate): Long =
    d.plusDays(1).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

  /** Finalize `day` with count `n`: emit an anomaly row if a full
    * 7-day trailing history exists (the batch ramp-in rule), then push
    * the day into the ring.
    */
  private def push(et: String, st: AnomState, day: LocalDate, n: Long,
                   out: scala.collection.mutable.Builder[AnomalyRow, Vector[AnomalyRow]]): AnomState = {
    if (st.ring.size == 7) {
      val s = st.ring.sum
      val ss = st.ring.map(x => x * x).sum
      val varNum = 7L * ss - s * s
      val mean7 = s / 7.0
      val std7 = math.sqrt(varNum / 49.0)
      val z = if (varNum > 0) Some((n - mean7) / std7) else None
      val isAnomaly =
        if (varNum > 0) math.abs(z.get) > 2.0 else n.toDouble != mean7
      out += AnomalyRow(et, java.sql.Date.valueOf(day), n, mean7, std7, z, isAnomaly)
    }
    AnomState(day.toString, (st.ring :+ n).takeRight(7), st.pending)
  }

  private def onGroup(
      et: String, it: Iterator[(String, java.sql.Timestamp)],
      state: GroupState[AnomState]): Iterator[AnomalyRow] = {
    val wm = state.getCurrentWatermarkMs()
    var st = state.getOption.getOrElse(AnomState("", Nil, Map.empty))
    // ingest this trigger's rows into pending day counts, dropping
    // anything at or before the last finalized day (watermark contract)
    val floor = if (st.lastDate.isEmpty) None else Some(st.lastDate)
    val pend = it.foldLeft(st.pending) { (m, row) =>
      val d = utcDay(row._2).toString
      if (floor.exists(d <= _)) m
      else m.updated(d, m.getOrElse(d, 0L) + 1L)
    }
    // finalize every pending day the watermark has passed, oldest first,
    // zero-filling calendar gaps between finalized days
    val ready = pend.keys.filter(d => dayEndMs(LocalDate.parse(d)) <= wm)
      .toVector.sorted
    val out = Vector.newBuilder[AnomalyRow]
    st = st.copy(pending = pend)
    ready.foreach { ds =>
      val d = LocalDate.parse(ds)
      if (st.lastDate.nonEmpty) {
        var gap = LocalDate.parse(st.lastDate).plusDays(1)
        while (gap.isBefore(d)) {
          st = push(et, st, gap, 0L, out)
          gap = gap.plusDays(1)
        }
      }
      st = push(et, st, d, st.pending(ds), out)
      st = st.copy(pending = st.pending - ds)
    }
    // trailing outage: even with NOTHING pending, the key's calendar
    // advances to the watermark frontier (the last fully-passed day)
    // with zero-filled emissions — a key that goes PERMANENTLY silent
    // must keep alerting (that is the scenario the feed exists for);
    // without this, the first outage day would only emit if the key
    // ever resumed
    if (st.lastDate.nonEmpty && wm > 0) {
      val frontier = java.time.Instant.ofEpochMilli(wm)
        .atZone(ZoneOffset.UTC).toLocalDate.minusDays(1)
      var g = LocalDate.parse(st.lastDate).plusDays(1)
      while (!g.isAfter(frontier)) {
        st = push(et, st, g, 0L, out)
        g = g.plusDays(1)
      }
    }
    state.update(st)
    // arm the next flush: the earliest unfinalized pending day, or the
    // calendar day after the last finalized one — quiet keys advance on
    // no-data batches as the global watermark moves
    val nextEnd = (st.pending.keys.map(d => dayEndMs(LocalDate.parse(d))) ++
      (if (st.lastDate.nonEmpty)
        Seq(dayEndMs(LocalDate.parse(st.lastDate).plusDays(1))) else Nil))
      .filter(_ > wm)
    if (nextEnd.nonEmpty) state.setTimeoutTimestamp(nextEnd.min)
    out.result().iterator
  }

  /** The live anomaly feed over a watermarked event stream (columns
    * `ts`, `event_type`). On a static frame the stream machinery has no
    * watermark to finalize against, so batch callers use
    * Events.eventAnomalies — this operator is the continuous-serving
    * twin, differentially tested against it.
    *
    * STATE BOUND: per-key state is O(1) (a 7-slot ring + in-horizon
    * pending days), but the KEY SET only ever grows, and a silent key
    * keeps alerting forever — right for the bounded event_type domain
    * this feed serves, not for an unbounded key domain.
    */
  def anomalies(events: DataFrame, horizon: String = "1 day"): Dataset[AnomalyRow] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", horizon)
      .select($"event_type", $"ts").as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AnomState, AnomalyRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(onGroup)
  }
}
