package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Driver-side reference: the same 6-round fixed-point walk in plain
    * Scala maps — integer arithmetic makes the comparison EXACT, so a
    * single ulp of divergence in the distributed plan fails loudly.
    */
  private def referencePagerank(basket: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val scale = 1000000000000L
    val byOrder = basket.distinct.groupBy(_._1).values
    val edges = byOrder.flatMap { items =>
      val ps = items.map(_._2)
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.toSet
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = deg.size.toLong
    val tele = (15L * (scale / n)) / 100L
    var r: Map[Long, Long] = deg.map { case (k, _) => k -> scale / n }
    for (_ <- 1 to 6) {
      val in = edges.toSeq
        .map { case (src, dst) => dst -> r(src) / deg(src) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      r = deg.map { case (k, _) => k -> (tele + (85L * in.getOrElse(k, 0L)) / 100L) }
    }
    deg.map { case (k, d) => k -> (d, r(k)) }
  }

  test("pagerank matches a driver-side reference exactly on random graphs") {
    import spark.implicits._
    val rnd = new Random(7)
    for (trial <- 1 to 3) {
      // random baskets: 40 orders, 1-5 parts each from a 25-part catalog
      val basket = (1L to 40L).flatMap { o =>
        val k = 1 + rnd.nextInt(5)
        Seq.fill(k)((o, 1L + rnd.nextInt(25).toLong))
      }
      val li = basket.toDF("l_orderkey", "l_partkey")
      val got = Graph.copurchasePagerankOf(li).collect()
        .map(r => r.getAs[Long]("part_key") ->
          (r.getAs[Long]("degree"), r.getAs[Long]("rank_fp"))).toMap
      val want = referencePagerank(basket)
      assert(got == want, s"trial $trial: ${got.toSeq.sorted.take(5)} vs ${want.toSeq.sorted.take(5)}")
    }
  }

  test("pagerank mass is conserved up to integer floors and ranks are positive") {
    val rows = Graph.copurchasePagerank(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    val scale = 1000000000000L
    val n = rows.length.toLong
    val total = rows.map(_.getAs[Long]("rank_fp")).sum
    val sumDeg = rows.map(_.getAs[Long]("degree")).sum
    // mass only leaks DOWN through integer floors: < deg(v) per node
    // when the outgoing rank splits, plus ≤ 2 per node for the damping
    // and teleport floors, per round — bounded by 6·(Σdeg + 2n) + n
    // over the 6 rounds and the initial n-way split
    assert(total <= scale, s"mass grew: $total > $scale")
    assert(total >= scale - (6L * (sumDeg + 2L * n) + n),
      s"mass leaked too far: $total vs $scale (n=$n, sumDeg=$sumDeg)")
    rows.foreach { r =>
      assert(r.getAs[Long]("rank_fp") > 0)
      assert(r.getAs[Long]("degree") >= 1)
      val d = r.getAs[Double]("rank")
      assert(d > 0.0 && d < 1.0)
    }
  }

  /** Driver-side reference: brute-force per-node triangle counts via
    * neighbor-set intersection — exact integer comparison.
    */
  private def referenceTriangles(basket: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] = {
    val byOrder = basket.distinct.groupBy(_._1).values
    val edges = byOrder.flatMap { items =>
      val ps = items.map(_._2).distinct
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSet
    val adj = (edges.toSeq ++ edges.toSeq.map(_.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    adj.map { case (v, nb) =>
      val ns = nb.toSeq
      val t = (for (i <- ns; j <- ns if i < j && adj(i)(j)) yield 1).size.toLong
      val d = nb.size.toLong
      val cc = if (d >= 2) (1000000L * 2 * t) / (d * (d - 1)) else 0L
      v -> (d, t, cc)
    }
  }

  test("triangle census matches a brute-force reference exactly on random graphs") {
    import spark.implicits._
    val rnd = new Random(11)
    for (trial <- 1 to 3) {
      val basket = (1L to 40L).flatMap { o =>
        val k = 1 + rnd.nextInt(5)
        Seq.fill(k)((o, 1L + rnd.nextInt(25).toLong))
      }
      val li = basket.toDF("l_orderkey", "l_partkey")
      val got = Graph.copurchaseTrianglesOf(li).collect()
        .map(r => r.getAs[Long]("part_key") ->
          (r.getAs[Long]("degree"), r.getAs[Long]("tri_cnt"), r.getAs[Long]("cc_fp")))
        .toMap
      val want = referenceTriangles(basket)
      assert(got == want, s"trial $trial: ${got.toSeq.sorted.take(5)} vs ${want.toSeq.sorted.take(5)}")
    }
  }

  test("triangle census: clique, star, and path topologies read exactly") {
    import spark.implicits._
    // order 1 = a K4 clique; orders 2-4 = a star through hub 10; order 5 = a 2-path
    val basket = Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 10L), (2L, 11L), (3L, 10L), (3L, 12L), (4L, 10L), (4L, 13L),
      (5L, 20L), (5L, 21L))
    val got = Graph.copurchaseTrianglesOf(basket.toDF("l_orderkey", "l_partkey"))
      .collect()
      .map(r => r.getAs[Long]("part_key") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("tri_cnt"), r.getAs[Long]("cc_fp")))
      .toMap
    // K4: every node deg 3, 3 triangles, cc = 1.0 (fixed point 10^6)
    Seq(1L, 2L, 3L, 4L).foreach(k => assert(got(k) == ((3L, 3L, 1000000L)), s"node $k: ${got(k)}"))
    // star: hub deg 3, leaves deg 1, no triangles anywhere
    assert(got(10L) == ((3L, 0L, 0L)))
    Seq(11L, 12L, 13L).foreach(k => assert(got(k) == ((1L, 0L, 0L))))
    // isolated edge: both ends deg 1, no triangle
    assert(got(20L) == ((1L, 0L, 0L)) && got(21L) == ((1L, 0L, 0L)))
  }

  test("hub parts outrank leaf parts in a star basket topology") {
    import spark.implicits._
    // one hub part co-purchased in every order, leaves once each —
    // centrality must rank the hub strictly first
    val basket = (1L to 10L).flatMap(o => Seq((o, 100L), (o, o)))
    val li = basket.toDF("l_orderkey", "l_partkey")
    val ranked = Graph.copurchasePagerankOf(li).collect()
      .sortBy(-_.getAs[Long]("rank_fp"))
    assert(ranked.head.getAs[Long]("part_key") == 100L)
    assert(ranked.head.getAs[Long]("degree") == 10L)
  }

  /** Driver-side reference: the same 4-round normalized half-step walk
    * in plain Scala maps — integer arithmetic makes the comparison
    * EXACT (the referencePagerank discipline).
    */
  private def referenceHits(purchases: Seq[(Long, Long)])
      : (Map[Long, Long], Map[Long, Long]) = {
    val scale = 1000000000L
    val edges = purchases.toSet
    val n = edges.map(_._1).size.toLong
    var hub: Map[Long, Long] = edges.map(_._1).map(_ -> scale / n).toMap
    var auth: Map[Long, Long] = Map.empty
    for (_ <- 1 to 4) {
      val aRaw = edges.toSeq.map { case (c, p) => p -> hub(c) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      val ta = aRaw.values.sum
      auth = aRaw.map { case (k, v) => k -> (v * scale) / ta }
      val hRaw = edges.toSeq.map { case (c, p) => c -> auth(p) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      val th = hRaw.values.sum
      hub = hRaw.map { case (k, v) => k -> (v * scale) / th }
    }
    (hub, auth)
  }

  test("hits matches a driver-side reference exactly on random bipartite graphs") {
    import spark.implicits._
    val rnd = new Random(13)
    for (trial <- 1 to 3) {
      // 30 orders from 12 customers, 1-4 parts each from a 15-part catalog
      val orderCust = (1L to 30L).map(o => (o, 1L + rnd.nextInt(12).toLong))
      val li = orderCust.flatMap { case (o, _) =>
        Seq.fill(1 + rnd.nextInt(4))((o, 1L + rnd.nextInt(15).toLong))
      }
      val ordersDf = orderCust.toDF("o_orderkey", "o_custkey")
      val liDf = li.toDF("l_orderkey", "l_partkey")
      val purchases = orderCust.flatMap { case (o, c) =>
        li.filter(_._1 == o).map { case (_, p) => (c, p) }
      }
      val (wantHub, wantAuth) = referenceHits(purchases)
      val rows = Graph.purchaseHitsOf(ordersDf, liDf).collect()
      val gotHub = rows.filter(_.getAs[String]("node_type") == "customer")
        .map(r => r.getAs[Long]("node_key") -> r.getAs[Long]("score_fp")).toMap
      val gotAuth = rows.filter(_.getAs[String]("node_type") == "part")
        .map(r => r.getAs[Long]("node_key") -> r.getAs[Long]("score_fp")).toMap
      assert(gotHub == wantHub, s"trial $trial hubs")
      assert(gotAuth == wantAuth, s"trial $trial auths")
    }
  }

  test("components match a driver-side union-find on multi-component graphs") {
    import spark.implicits._
    val rnd = new Random(83)
    for (trial <- 1 to 3) {
      // three disjoint part universes: orders draw parts from one range
      // only, so the true component structure is known by construction
      // and the co-purchase diameter stays within the 6 fixed rounds
      val basket = (1L to 60L).flatMap { o =>
        val cluster = rnd.nextInt(3)
        val base = 1L + cluster * 100
        val k = 2 + rnd.nextInt(4)
        Seq.fill(k)((o, base + rnd.nextInt(12).toLong))
      }
      val rows = Graph.copurchaseComponentsOf(basket.toDF("l_orderkey", "l_partkey"))
        .collect()
      val got = rows
        .map(r => r.getAs[Long]("part_key") ->
          (r.getAs[Long]("component"), r.getAs[Long]("comp_size"))).toMap
      // within-cluster diameter is small, so 6 rounds reach the fixpoint
      assert(rows.forall(_.getAs[Boolean]("converged")), s"trial $trial converged")

      // driver-side union-find over the same edges — EVERY part in the
      // basket is a node; parts with no co-purchase partner stay their
      // own (size-1) component, matching the operator's full census
      val byOrder = basket.distinct.groupBy(_._1).values
      val nodes = basket.map(_._2).distinct
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      byOrder.foreach { items =>
        val ps = items.map(_._2).distinct
        ps.tail.foreach { p => val (a, b) = (find(ps.head), find(p))
          if (a != b) parent(math.max(a, b)) = math.min(a, b) }
      }
      val want = nodes.groupBy(n => {
        // min label of the component = union-find root chased to min via
        // path of parent links (min always wins the union above)
        find(n)
      })
      assert(got.keySet == nodes.toSet, s"trial $trial node set")
      for ((root, members) <- want; m <- members) {
        assert(got(m)._1 == members.min, s"trial $trial label of $m")
        assert(got(m)._2 == members.size.toLong, s"trial $trial size of $m")
      }
    }
  }

  test("components flag non-convergence on a path graph of diameter > 6") {
    import spark.implicits._
    // a 10-node path: order k co-sells parts k and k+1, so the true
    // graph is ONE component of diameter 9 — after 6 min-label rounds
    // node k still carries max(1, k-6), labels moved in round 6, and the
    // census MUST say so instead of silently reporting a split component
    val path = (1L to 9L).flatMap(o => Seq((o, o), (o, o + 1)))
    val rows = Graph.copurchaseComponentsOf(path.toDF("l_orderkey", "l_partkey"))
      .collect()
    assert(rows.length == 10)
    assert(rows.forall(!_.getAs[Boolean]("converged")), "tripwire must fire")
    // the under-merge is real (more than one label survives) — the flag
    // is what turns that from a silent wrong answer into a loud one
    assert(rows.map(_.getAs[Long]("component")).distinct.length > 1)

    // and a short path (diameter ≤ 6) converges with a single component
    val short = (1L to 5L).flatMap(o => Seq((o, o), (o, o + 1)))
    val ok = Graph.copurchaseComponentsOf(short.toDF("l_orderkey", "l_partkey"))
      .collect()
    assert(ok.forall(_.getAs[Boolean]("converged")))
    assert(ok.map(_.getAs[Long]("component")).distinct.toSeq == Seq(1L))
    assert(ok.forall(_.getAs[Long]("comp_size") == 6L))
  }

  test("components report never-co-purchased parts as singleton components") {
    import spark.implicits._
    // order 1 co-sells parts 1,2; orders 2 and 3 are single-part orders
    // (part 7 twice, part 9 once) — 7 and 9 have no co-purchase edge but
    // belong in the census as size-1 universes
    val li = Seq((1L, 1L), (1L, 2L), (2L, 7L), (2L, 7L), (3L, 9L))
    val got = Graph.copurchaseComponentsOf(li.toDF("l_orderkey", "l_partkey"))
      .collect()
      .map(r => r.getAs[Long]("part_key") ->
        (r.getAs[Long]("component"), r.getAs[Long]("comp_size"))).toMap
    assert(got == Map(
      1L -> (1L, 2L), 2L -> (1L, 2L), 7L -> (7L, 1L), 9L -> (9L, 1L)))
  }

  test("hits scores are positive and each side's mass sums to ~Scale") {
    val rows = Graph.purchaseHits(spark, TestSpark.sf).collect()
    val scale = 1000000000L
    Seq("customer", "part").foreach { side =>
      val s = rows.filter(_.getAs[String]("node_type") == side)
      assert(s.nonEmpty)
      val total = s.map(_.getAs[Long]("score_fp")).sum
      // integer normalization floors leak < 1 unit per node
      assert(total <= scale && total >= scale - s.length, s"$side mass $total")
      s.foreach(r => assert(r.getAs[Long]("score_fp") >= 0))
    }
    spark.catalog.clearCache()
  }

  test("graph family fails loudly on a basket wider than the design bound") {
    import spark.implicits._
    // one marketplace-style order holding MaxBasketWidth+1 distinct
    // parts — the regime where the per-order self-join's fan-out goes
    // quadratic in the width; the census guard must trip BEFORE the
    // edge build, not time out inside it (round-10 verdict watch item)
    val wide = (1L to 257L).map(p => (1L, p)) ++
      Seq((2L, 1L), (2L, 2L)) // plus a normal order
    val li = wide.toDF("l_orderkey", "l_partkey")
    Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      Graph.copurchasePagerankOf, Graph.copurchaseTrianglesOf,
      Graph.copurchaseComponentsOf).foreach { op =>
      val e = intercept[graft.operators.BasketGuard.BasketTooWideException] {
        op(li)
      }
      assert(e.getMessage.contains("257") && e.getMessage.contains("256"))
    }
    // exactly AT the bound the family still runs (the guard is >, not >=)
    val atBound = (1L to 256L).map(p => (1L, p))
    val ok = Graph.copurchaseComponentsOf(atBound.toDF("l_orderkey", "l_partkey"))
    assert(ok.agg(org.apache.spark.sql.functions.max(org.apache.spark.sql
      .functions.col("comp_size"))).collect()(0).getLong(0) == 256L)
    spark.catalog.clearCache()
  }

  test("q59's rank-join hint stays off at sf0.01 and sf0.1") {
    // the sf0.1 A/B kept AQE's runtime broadcast (hint 2.0 → 3.0 s), so
    // the size gate must not fire below sf1; the estimate is the
    // planner's, read without running a job
    def gate(sf: String): (BigInt, Boolean) = {
      val dir = new java.io.File(TestSpark.sf).getParent + "/" + sf
      Graph.rankJoinHint(graft.sources.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct())
    }
    Seq("sf0.01", "sf0.1").foreach { sf =>
      val (estimate, on) = gate(sf)
      info(s"$sf: q59 gate input estimate $estimate bytes")
      assert(!on, s"$sf: estimate $estimate bytes crossed the q59 hint gate")
    }
    // the override still moves the decision
    spark.conf.set("spark.graft.q59.hint.bytes", "0")
    try assert(gate("sf0.01")._2, "a 0-byte gate must turn the hint on")
    finally spark.conf.unset("spark.graft.q59.hint.bytes")
  }
}
