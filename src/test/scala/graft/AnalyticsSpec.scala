package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, Analytics2, Dimensions, Facts, Similarity}

class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("revenue shares sum to 100") {
    val total = Analytics.categoryPerformance(spark, TestSpark.sf)
      .agg(round(sum("revenue_share_pct"), 0)).collect().head.getDouble(0)
    assert(total == 100.0)
  }

  test("dim_date covers whole years with correct keys") {
    val d = Dimensions.dimDate(spark, TestSpark.sf)
    val n = d.count()
    assert(n % 365 < 3) // whole years (+leap days)
    assert(d.filter(col("date_key") =!=
      date_format(col("full_date"), "yyyyMMdd").cast("long")).count() == 0)
    assert(d.filter(col("is_weekend") =!= (col("day_of_week") >= 6)).count() == 0)
  }

  test("scd2 merge: one current row per customer, versions consistent") {
    val m = Dimensions.scd2MergeDemo(spark, TestSpark.sf)
    val dupCurrent = m.filter(col("is_current"))
      .groupBy("customer_id").count().filter(col("count") > 1).count()
    assert(dupCurrent == 0)
    // changed rows are v2 and paired with an expired v1
    val changed = m.filter(col("change_type") === "changed")
    val expired = m.filter(col("change_type") === "expired")
    assert(changed.count() == expired.count())
    assert(changed.filter(col("version") =!= 2).count() == 0)
  }

  test("fact_sales keys resolve and amounts reconcile with lineitem") {
    val fact = Facts.factSales(spark, TestSpark.sf)
    val li = spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
    assert(fact.count() == li.count())
    assert(fact.filter(col("customer_key").isNull || col("category_key").isNull).count() == 0)
  }

  test("q37 conform surfaces the API-only category; catalog rows carry both flags") {
    val c = graft.operators.Cleaning.apiCategoryList(spark, TestSpark.sf)
    val disc = c.filter(col("category") === "DISCONTINUED").collect()
    assert(disc.length == 1)
    assert(disc.head.getAs[Boolean]("in_api") && !disc.head.getAs[Boolean]("in_catalog"))
    assert(disc.head.getAs[Long]("n_products") == 0L)
    assert(c.filter(col("in_catalog") && (col("n_products") <= 0 || !col("in_api"))).count() == 0)
  }

  test("q38 histogram shares sum to 1 and bins tile the value range") {
    val h = Analytics2.amountHistogram(spark, TestSpark.sf)
    val total = h.agg(sum("pct_orders")).collect().head.getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9)
    assert(h.filter(col("bin_high") - col("bin_low") =!= 25000.0).count() == 0)
    assert(h.filter(col("n_orders") <= 0).count() == 0)
  }

  test("q39 KPI tiles are internally consistent") {
    val k = Analytics2.kpiTiles(spark, TestSpark.sf).collect()
    assert(k.length == 1)
    val r = k.head
    assert(math.abs(r.getAs[Double]("avg_order_value") -
      r.getAs[Double]("total_revenue") / r.getAs[Long]("transactions")) < 1e-9)
    assert(r.getAs[Long]("unique_customers") <= r.getAs[Long]("transactions"))
    assert(r.getAs[Double]("max_single_order") <= r.getAs[Double]("total_revenue"))
  }

  test("q44 trendline matches a driver-side least-squares fit per category") {
    val fit = Analytics2.categoryTrendline(spark, TestSpark.sf).collect()
      .map(r => r.getAs[String]("product_category") -> r).toMap
    assert(fit.nonEmpty)
    // recompute the monthly series exactly as q41 publishes it
    val monthly = Analytics2.monthlyCategoryTrend(spark, TestSpark.sf)
      .select(col("product_category"), (col("year") * 12 + col("month")).as("mi"),
        col("net_revenue")).collect()
      .map(r => (r.getAs[String]("product_category"), r.getAs[Long]("mi"),
        r.getAs[Double]("net_revenue")))
      .groupBy(_._1)
    monthly.foreach { case (cat, rows) =>
      val x0 = rows.map(_._2).min
      val pts = rows.map(t => ((t._2 - x0).toDouble, t._3))
      val n = pts.length.toDouble
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val r = fit(cat)
      assert(r.getAs[Long]("n_months") == pts.length)
      assert(math.abs(r.getAs[Double]("slope_per_month") - slope) < 1e-6 * math.max(1.0, math.abs(slope)),
        s"$cat: ${r.getAs[Double]("slope_per_month")} vs $slope")
      val intercept = (sy - slope * sx) / n
      assert(math.abs(r.getAs[Double]("intercept_at_start") - intercept) <
        1e-6 * math.max(1.0, math.abs(intercept)))
      // the projection extends the fitted line one month past the series
      val mx = pts.map(_._1).max
      assert(math.abs(r.getAs[Double]("forecast_next_month") - (slope * (mx + 1) + intercept)) <
        1e-6 * math.max(1.0, math.abs(intercept)))
    }
  }

  test("q52 RFM: every customer scored 1-5, segments consistent with scores") {
    val rfm = Analytics2.rfmSegmentation(spark, TestSpark.sf)
    val rows = rfm.collect()
    val nCust = spark.read.parquet(s"${TestSpark.sf}/orders.parquet")
      .select("o_custkey").distinct().count()
    assert(rows.length == nCust)
    rows.foreach { r =>
      val (rs, fs, ms) = (r.getAs[Long]("r_score"),
        r.getAs[Long]("f_score"), r.getAs[Long]("m_score"))
      assert(rs >= 1 && rs <= 5 && fs >= 1 && fs <= 5 && ms >= 1 && ms <= 5)
      assert(r.getAs[Long]("recency_days") >= 0)
      assert(r.getAs[Double]("monetary") > 0)
      val expected =
        if (rs >= 4 && fs >= 4 && ms >= 4) "champion"
        else if (rs >= 3 && fs >= 3) "loyal"
        else if (rs >= 4 && fs <= 2) "recent"
        else if (rs <= 2 && fs >= 3) "at_risk"
        else if (rs <= 2 && fs <= 2) "hibernating"
        else "regular"
      assert(r.getAs[String]("segment") == expected)
    }
    // quintile boundaries actually spread the base: recency and monetary
    // are near-continuous, so no single score may swallow everyone
    val mCounts = rows.groupBy(_.getAs[Long]("m_score")).view.mapValues(_.size)
    assert(mCounts.size == 5 && mCounts.values.max <= rows.length * 0.3)
  }

  test("q53 basket affinity matches the naive self-join census") {
    val aff = Analytics2.basketAffinity(spark, TestSpark.sf).collect()
    assert(aff.nonEmpty)
    // naive reference: distinct (order, brand) self-joined on the order
    val li = spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val p = spark.read.parquet(s"${TestSpark.sf}/part.parquet")
      .select(col("p_partkey"), col("p_brand"))
    val oc = li.join(p, col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct()
    val nOrders = oc.select("l_orderkey").distinct().count()
    val reach = oc.groupBy("p_brand").count().collect()
      .map(r => r.getAs[String]("p_brand") -> r.getAs[Long]("count")).toMap
    val a = oc.toDF("k", "ba")
    val b = oc.toDF("k", "bb")
    val expected = a.join(b, "k").filter(col("ba") < col("bb"))
      .groupBy("ba", "bb").count().collect()
      .map(r => (r.getAs[String]("ba"), r.getAs[String]("bb")) -> r.getAs[Long]("count")).toMap
    assert(aff.length == expected.size)
    aff.foreach { r =>
      val (ba, bb) = (r.getAs[String]("brand_a"), r.getAs[String]("brand_b"))
      assert(ba < bb)
      val n = r.getAs[Long]("pair_orders")
      assert(n == expected((ba, bb)))
      assert(r.getAs[Long]("orders_a") == reach(ba) && r.getAs[Long]("orders_b") == reach(bb))
      assert(n <= math.min(reach(ba), reach(bb)))
      assert(math.abs(r.getAs[Double]("support") - n.toDouble / nOrders) < 1e-12)
      assert(math.abs(r.getAs[Double]("lift") -
        (n * nOrders).toDouble / (reach(ba) * reach(bb)).toDouble) < 1e-12)
    }
  }

  test("q53 fails loudly on a basket wider than the design bound") {
    import spark.implicits._
    // 257 distinct brands in one order: the in-expression width gate
    // suppresses the quadratic pair emission and the census guard trips
    val li = (1L to 257L).map(p => (1L, p)).toDF("l_orderkey", "l_partkey")
    val p = (1L to 257L).map(k => (k, s"Brand#$k")).toDF("p_partkey", "p_brand")
    val e = intercept[graft.operators.BasketGuard.BasketTooWideException] {
      Analytics2.basketAffinityOf(spark, li, p)
    }
    assert(e.getMessage.contains("257") && e.getMessage.contains("256"))
    // at the bound it still runs: C(256,2) pairs, each in exactly 1 order
    val ok = Analytics2.basketAffinityOf(spark,
      (1L to 256L).map(p2 => (1L, p2)).toDF("l_orderkey", "l_partkey"),
      (1L to 256L).map(k => (k, f"Brand#$k%03d")).toDF("p_partkey", "p_brand"))
      .collect()
    assert(ok.length == 256 * 255 / 2)
    assert(ok.forall(r => r.getAs[Long]("pair_orders") == 1L &&
      r.getAs[Double]("support") == 1.0 && r.getAs[Double]("lift") == 1.0))
    spark.catalog.clearCache()
  }

  test("q54 supplier scorecard: dense nation ranks, conserved lines and revenue") {
    import graft.functions.Money.{net, out2}
    val sc = Analytics.supplierScorecard(spark, TestSpark.sf)
    assert(sc.count() > 0)
    // ranks are dense 1..k within every nation
    val badRank = sc.groupBy("nation")
      .agg(count(lit(1)).as("k"), min("nation_rank").as("mn"), max("nation_rank").as("mx"))
      .filter(col("mn") =!= 1 || col("mx") =!= col("k")).count()
    assert(badRank == 0)
    assert(sc.filter(col("return_rate") < 0 || col("return_rate") > 1).count() == 0)
    // every shipped line and every cent lands on exactly one supplier
    val li = spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
    assert(sc.agg(sum("n_lines")).collect().head.getLong(0) == li.count())
    val expRev = li.agg(out2(sum(net(col("l_extendedprice"), col("l_discount")))))
      .collect().head.getDouble(0)
    val gotRev = sc.agg(round(sum("net_revenue"), 2)).collect().head.getDouble(0)
    assert(math.abs(gotRev - expRev) < 0.01 * sc.count(),
      s"per-supplier rounding drift only: $gotRev vs $expRev")
  }

  test("q55 lead time matches a driver-side percentile recompute; approx tracks exact") {
    val got = Analytics2.leadTime(spark, TestSpark.sf).collect()
      .map(r => r.getAs[String]("priority") -> r).toMap
    val li = spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
      .select(col("l_orderkey"), col("l_shipdate"))
    val o = spark.read.parquet(s"${TestSpark.sf}/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val leads = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))).as("d"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def pct(xs: Seq[Int], p: Double): Double = {
      val rank = p * (xs.length - 1)
      val lo = rank.toInt
      if (lo + 1 >= xs.length) xs.last.toDouble
      else xs(lo) + (rank - lo) * (xs(lo + 1) - xs(lo))
    }
    assert(got.keySet == leads.keySet)
    leads.foreach { case (pr, xs) =>
      val r = got(pr)
      assert(r.getAs[Long]("n_lines") == xs.length)
      assert(math.abs(r.getAs[Double]("avg_lead_days") -
        xs.map(_.toLong).sum.toDouble / xs.length) < 1e-9)
      assert(math.abs(r.getAs[Double]("p50_days") - pct(xs, 0.5)) < 1e-9, s"$pr p50")
      assert(math.abs(r.getAs[Double]("p90_days") - pct(xs, 0.9)) < 1e-9, s"$pr p90")
      assert(r.getAs[Long]("max_days") == xs.max.toLong)
    }
  }

  test("q56 purchase cadence matches a driver-side gap recompute") {
    val got = Analytics2.purchaseIntervals(spark, TestSpark.sf).collect()
      .map(r => r.getAs[String]("segment") -> r).toMap
    val seg = spark.read.parquet(s"${TestSpark.sf}/customer.parquet")
      .select("c_custkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val orders = spark.read.parquet(s"${TestSpark.sf}/orders.parquet")
      .select(col("o_custkey"), col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDate(2).toLocalDate))
    val bySeg = orders.groupBy(o => seg(o._1))
    assert(got.keySet == bySeg.keySet)
    bySeg.foreach { case (s, os) =>
      val gaps = os.groupBy(_._1).values.flatMap { cust =>
        val sorted = cust.sortBy(o => (o._3.toEpochDay, o._2))
        sorted.sliding(2).collect { case Array(a, b) =>
          (b._3.toEpochDay - a._3.toEpochDay, b._1)
        }
      }.toSeq
      val r = got(s)
      assert(r.getAs[Long]("n_customers") == os.map(_._1).distinct.length)
      assert(r.getAs[Long]("n_repeat_customers") == gaps.map(_._2).distinct.length)
      assert(r.getAs[Long]("n_gaps") == gaps.length)
      assert(math.abs(r.getAs[Double]("avg_gap_days") -
        gaps.map(_._1).sum.toDouble / gaps.length) < 1e-9)
      assert(r.getAs[Long]("max_gap_days") == gaps.map(_._1).max)
      val sortedGaps = gaps.map(_._1).sorted
      val rank = 0.5 * (sortedGaps.length - 1)
      val lo = rank.toInt
      val med = if (lo + 1 >= sortedGaps.length) sortedGaps.last.toDouble
        else sortedGaps(lo) + (rank - lo) * (sortedGaps(lo + 1) - sortedGaps(lo))
      assert(math.abs(r.getAs[Double]("p50_gap_days") - med) < 1e-9, s"$s p50")
      assert(math.abs(r.getAs[Double]("repeat_share") -
        gaps.map(_._2).distinct.length.toDouble / os.map(_._1).distinct.length) < 1e-12)
    }
  }

  test("q26 percentiles are ordered within every segment") {
    val p = Analytics2.segmentPercentiles(spark, TestSpark.sf)
    assert(p.filter(col("p25") > col("median") || col("median") > col("p75") ||
      col("p75") > col("p90") || col("min_total") > col("p25") ||
      col("p90") > col("max_total")).count() == 0)
  }

  test("knn returns 10 ranked neighbors per query, cosine in [-1,1]") {
    val knn = Similarity.embeddingKnn(spark, TestSpark.sf)
    val perQ = knn.groupBy("q_id").count().filter(col("count") =!= 10).count()
    assert(perQ == 0)
    assert(knn.filter(col("cosine_sim") > 1.0001 || col("cosine_sim") < -1.0001).count() == 0)
    // ranks are 1..10
    assert(knn.groupBy("q_id").agg(min("rank").as("mn"), max("rank").as("mx"))
      .filter(col("mn") =!= 1 || col("mx") =!= 10).count() == 0)
  }
}
