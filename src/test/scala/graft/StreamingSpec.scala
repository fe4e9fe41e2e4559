package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventsStream
import graft.streaming.EventsStream.Event

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedCounts aggregates per hour window and event type") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Event]
    src.addData(
      Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:45:00"), 2, "click", 2.0),
      Event(3, ts("2024-01-01 11:05:00"), 1, "view", 5.0))
    val out = EventsStream.runToMemory(
      EventsStream.windowedCounts(src.toDF()), "wc", OutputMode.Complete())
    val rows = out.collect().map(r =>
      (r.getAs[Timestamp]("window_start").toString, r.getAs[String]("event_type"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    assert(rows == Set(
      ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 11:00:00.0", "view", 1L, 5.0)))
  }

  test("dailyActiveUsers chains dedup into the window agg; stream == batch DAU") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day12 = Seq(
      Event(1, ts("2024-01-01 09:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:00:00"), 1, "view", 1.0),  // same user+day: dedup
      Event(3, ts("2024-01-01 11:00:00"), 2, "click", 1.0),
      Event(4, ts("2024-01-02 09:00:00"), 1, "click", 1.0), // new day counts again
      Event(5, ts("2024-01-02 09:30:00"), 3, "click", 1.0))
    // a later event advances the watermark past both days so the
    // append-mode windows close and emit
    val flush = Event(99, ts("2024-01-05 00:00:00"), 9, "click", 1.0)
    val src = MemoryStream[Event]
    val q = EventsStream.dailyActiveUsers(src.toDF())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dau_s").start()
    try {
      src.addData(day12: _*); q.processAllAvailable()
      src.addData(flush); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dau_s").collect()
      .map(r => r.getAs[java.sql.Date]("activity_date").toString -> r.getAs[Long]("dau"))
      .toMap
    assert(rows == Map("2024-01-01" -> 2L, "2024-01-02" -> 2L))
    // the static frame through the same function is its own batch twin
    val batch = EventsStream.dailyActiveUsers((day12 :+ flush).toDF())
      .collect()
      .map(r => r.getAs[java.sql.Date]("activity_date").toString -> r.getAs[Long]("dau"))
      .toMap
    assert(batch == Map("2024-01-01" -> 2L, "2024-01-02" -> 2L, "2024-01-05" -> 1L))
  }

  test("purchaseClickJoin attributes in-window clicks; stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clickData = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0),
      Event(2, ts("2024-01-01 10:30:00"), 1, "click", 0.0),
      Event(3, ts("2024-01-01 08:00:00"), 1, "click", 0.0), // > 1h before
      Event(4, ts("2024-01-01 10:40:00"), 2, "click", 0.0)) // never buys
    val purchaseData = Seq(
      Event(10, ts("2024-01-01 10:50:00"), 1, "purchase", 9.99),
      Event(11, ts("2024-01-01 11:00:00"), 3, "purchase", 5.0)) // no clicks
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    clicks.addData(clickData: _*)
    purchases.addData(purchaseData: _*)
    val out = EventsStream.runToMemory(
      EventsStream.purchaseClickJoin(clicks.toDF(), purchases.toDF()),
      "pcj", OutputMode.Append())
    val got = out.collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"))).toSet
    assert(got == Set((10L, 1L), (10L, 2L)))
    // the same function on static frames is the batch twin — identical rows
    val batch = EventsStream.purchaseClickJoin(
      clickData.toDF(), purchaseData.toDF()).collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"))).toSet
    assert(batch == got)
  }

  test("continuous attribution census == batch twin across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_attr_census").toString
    // before any trigger commits, the served census is EMPTY, not an error
    assert(EventsStream.servedAttributionCensus(spark, dir).count() == 0)
    val clickData = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 0),   // 50 min before
      Event(2, ts("2024-01-01 10:47:00"), 1, "click", 0),   // 3 min before
      Event(3, ts("2024-01-01 10:40:00"), 2, "click", 0),   // 12 min before
      Event(4, ts("2024-01-01 10:45:30"), 1, "click", 0))   // 4.5 min before
    val purchaseData = Seq(
      Event(10, ts("2024-01-01 10:50:00"), 1, "purchase", 1.0),
      Event(11, ts("2024-01-01 10:52:00"), 2, "purchase", 2.0))
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventsStream.attributionCensusStart(
      clicks.toDF(), purchases.toDF(), dir)
    clicks.addData(clickData.take(3): _*)
    purchases.addData(purchaseData.head)
    q.processAllAvailable()
    // second trigger: user 2 converts; a late click for user 1 joins the
    // already-buffered purchase and lands in a NEW batch partition
    purchases.addData(purchaseData(1))
    clicks.addData(clickData(3))
    q.processAllAvailable()
    q.stop()
    val got = EventsStream.servedAttributionCensus(spark, dir).collect()
      .map(r => r.getAs[String]("gap_bucket") -> r.getAs[Long]("n_pairs")).toMap
    // pairs: u1 p10 <- clicks at 3 min, 4.5 min (<=5m), 50 min (<=60m);
    // u2 p11 <- click at 12 min (<=15m)
    assert(got === Map("<=5m" -> 2L, "<=15m" -> 1L, "<=60m" -> 1L))
    // the batch twin over the full static feed is identical
    val batch = EventsStream.attributionCensusBatch(
      clickData.toDF(), purchaseData.toDF())
      .collect().map(r => r.getAs[String]("gap_bucket") -> r.getAs[Long]("n_pairs"))
      .toMap
    assert(batch === got)
  }

  test("census compaction bounds the file listing; empty batches write nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_attr_compact").toString
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    // compactAfter=1: any trigger seeing >1 foldable live partition compacts
    val q = EventsStream.attributionCensusStart(
      clicks.toDF(), purchases.toDF(), dir, compactAfter = 1)
    // 4 conversion triggers, each one (click, purchase) pair 3 min apart,
    // interleaved with an EMPTY trigger (clicks with no purchase in window)
    (0 until 4).foreach { i =>
      val base = ts(f"2024-01-01 ${10 + i}%02d:00:00").getTime
      clicks.addData(Event(100 + i, new Timestamp(base), 50 + i, "click", 0))
      purchases.addData(
        Event(200 + i, new Timestamp(base + 180000L), 50 + i, "purchase", 1.0))
      q.processAllAvailable()
      if (i == 1) { // empty trigger: a lone click converts nothing
        clicks.addData(Event(300, new Timestamp(base + 60000L), 999, "click", 0))
        q.processAllAvailable()
      }
    }
    q.stop()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def children(sub: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName).filterNot(_.startsWith("_"))
    }
    // a base exists and the live part listing is bounded (≤ compactAfter
    // foldable + the in-flight partition), far below the trigger count
    assert(children("census_base").count(_.startsWith("v=")) == 1)
    assert(children("census").size <= 2)
    // the census still equals the batch twin over the full feed
    val allClicks = (0 until 4).map { i =>
      val base = ts(f"2024-01-01 ${10 + i}%02d:00:00").getTime
      Event(100 + i, new Timestamp(base), 50 + i, "click", 0)
    } :+ Event(300, new Timestamp(ts("2024-01-01 11:00:00").getTime + 60000L), 999, "click", 0)
    val allPurchases = (0 until 4).map { i =>
      val base = ts(f"2024-01-01 ${10 + i}%02d:00:00").getTime
      Event(200 + i, new Timestamp(base + 180000L), 50 + i, "purchase", 1.0)
    }
    val got = EventsStream.servedAttributionCensus(spark, dir).collect()
      .map(r => r.getAs[String]("gap_bucket") -> r.getAs[Long]("n_pairs")).toMap
    val batch = EventsStream.attributionCensusBatch(
      allClicks.toDF(), allPurchases.toDF())
      .collect().map(r => r.getAs[String]("gap_bucket") -> r.getAs[Long]("n_pairs")).toMap
    assert(got === batch)
    assert(got === Map("<=5m" -> 4L))
  }

  test("census serving rule reads every compaction crash window consistently") {
    import spark.implicits._
    // manufacture the on-disk states a crash can leave, without a
    // stream: parts batch=0..4 each carrying one <=5m pair
    val dir = java.nio.file.Files.createTempDirectory("graft_census_crash").toString
    def writePart(id: Long): Unit =
      Seq(("<=5m", 1L)).toDF("gap_bucket", "n_pairs")
        .write.mode("overwrite").parquet(s"$dir/census/batch=$id")
    (0L to 4L).foreach(writePart)
    def served: Map[String, Long] =
      EventsStream.servedAttributionCensus(spark, dir).collect()
        .map(r => r.getAs[String]("gap_bucket") -> r.getAs[Long]("n_pairs")).toMap
    assert(served == Map("<=5m" -> 5L))
    // CRASH WINDOW 1: base v=3 published (covers parts 0-3) but the
    // delete sweep never ran — covered parts still on disk. The rule
    // (newest base wins, parts <= v ignored) must not double count.
    Seq(("<=5m", 4L)).toDF("gap_bucket", "n_pairs")
      .write.mode("overwrite").parquet(s"$dir/census_base/v=3")
    assert(served == Map("<=5m" -> 5L), "covered parts double-counted")
    // CRASH WINDOW 2: sweep died mid-delete — SOME covered parts gone
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/census/batch=1"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/census/batch=3"), true)
    assert(served == Map("<=5m" -> 5L), "partial sweep changed the census")
    // CRASH WINDOW 3: a NEWER base lands (covers 0-4) with the old base
    // and stale parts still present — newest base alone must win
    Seq(("<=5m", 5L)).toDF("gap_bucket", "n_pairs")
      .write.mode("overwrite").parquet(s"$dir/census_base/v=4")
    assert(served == Map("<=5m" -> 5L), "newest-base-wins rule broken")
    // and new post-compaction parts stack on top of the newest base
    writePart(5L)
    assert(served == Map("<=5m" -> 6L))
  }

  test("purchaseClickJoin pairs reproduce the batch e10 counts on a replayed feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val feed = spark.read.parquet(s"$dir/events.parquet")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    clicks.addData(feed.filter(_.event_type == "click"): _*)
    purchases.addData(feed.filter(_.event_type == "purchase"): _*)
    val out = EventsStream.runToMemory(
      EventsStream.purchaseClickJoin(clicks.toDF(), purchases.toDF()),
      "pcj_replay", OutputMode.Append())
    val streamCounts = out.groupBy("purchase_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the batch interval join is the system of record (oracle-checked);
    // its zero-click rows are the stream's non-emissions
    val batch = graft.operators.Events.clickAttribution(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("n_clicks_1h")))
      .filter(_._2 > 0).toMap
    assert(streamCounts === batch)
  }
}
