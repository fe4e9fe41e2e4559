package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Graph analytics over the co-purchase graph — parts are nodes, an
  * edge connects two parts that appear in the same order (the classic
  * "customers who bought X also bought Y" structure the reference's
  * basket views (q53 basket affinity) rank pairwise; PageRank ranks
  * parts by GLOBAL graph centrality instead, surfacing hub products a
  * pairwise lift score misses).
  *
  * Determinism contract: ranks are INTEGER fixed-point (parts-per-10¹²
  * of total mass) and every per-iteration operation is integer
  * arithmetic — contribution = rank div degree, damping = (85·Σ) div
  * 100 — so the incoming-mass sum is a BIGINT sum, associative and
  * order-independent, and Spark's nondeterministic aggregation order
  * produces bit-identical ranks to DuckDB's. (Float PageRank would
  * diverge between engines in the last ulps and amplify over
  * iterations.) Integer floors leak ~1 unit of mass per node per
  * iteration — a deliberate trade: this is the standard power
  * iteration up to 10⁻¹² absolute error, with exact cross-engine
  * reproducibility.
  */
object Graph {

  /** Fixed-point scale: ranks are parts-per-SCALE of total mass. */
  private val Scale = 1000000000000L
  /** Power-iteration rounds. 6 rounds on a damping-0.85 walk bounds
    * the unconverged tail by 0.85⁶ ≈ 0.38 of the initial residual —
    * enough to stabilize the ranking order on a dense co-purchase
    * graph (diameter ~3-4) while keeping the oracle's unrolled CTE
    * chain readable. The iteration count is part of the operator's
    * semantics (both engines unroll the same 6 rounds).
    */
  private val Iters = 6

  /** q59: fixed-point PageRank over the part co-purchase graph.
    *
    * Scale: the edge list is built per order — the per-order self-join
    * fans out at most (items/order)² rows per order (TPC-H shape: ≤ 7
    * lineitems, ≤ 49 ordered pairs), so edge generation is linear in
    * lineitem with a small constant, never corpus-pairwise. Each of
    * the 6 iterations is one equi-join (edges ⋈ ranks on src) plus one
    * hash aggregation (sum by dst) — the Pregel message-passing shape;
    * the ranks frame is node-sized (≪ edges), broadcastable until the
    * catalog is huge, after which AQE picks the shuffled-hash form and
    * the iteration cost is two exchanges over the edge list. The
    * 1-row node-count/teleport frames ride broadcast crossJoins (the
    * Pipeline bounded-frame rule).
    */
  def copurchasePagerank(spark: SparkSession, dir: String): DataFrame =
    copurchasePagerankOf(Tables.lineitem(spark, dir))

  /** q59's SIZE-GATED shuffle-hash hint on the per-round contrib join
    * (round 15, closing the r14 verdict's q59-at-sf1 question). At
    * sf0.1 AQE runtime-broadcasts the rank side and the hint pinned a
    * slower exchange (r14 A/B: 2.0 → 3.0 s — the rejection stands
    * THERE); at sf1 the rank side outgrows the broadcast threshold,
    * the per-round join defaults to SMJ re-sorting the edge side, and
    * the hinted replay read 19.2-21.9 s vs 23.3-30.3 s as-is (3
    * interleaved reps) — the q63 logic applies from sf1 up. Gates on
    * the planner's estimate of the distinct (orderkey, partkey)
    * projection `li` (SCALE.md §"q59 at sf1": sf0.1 = 2.2 MB, sf1 =
    * 25.7 MB; threshold 12 MB, the containment census gate's scale),
    * overridable via spark.graft.q59.hint.bytes. Value-neutral: join
    * strategy only. Returns (estimate in bytes, hint on); GraphSpec
    * pins the decision per scale factor.
    */
  private[graft] def rankJoinHint(li: DataFrame): (BigInt, Boolean) = {
    val gate = Dedup.confLong(li.sparkSession, "spark.graft.q59.hint.bytes", 12L << 20)
    val estimate = li.queryExecution.optimizedPlan.stats.sizeInBytes
    (estimate, estimate > gate)
  }

  private[graft] def copurchasePagerankOf(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
    // loud width guard BEFORE the per-order self-join: its fan-out is
    // quadratic in basket width, linear only while width is bounded
    BasketGuard.requireWidth(li, "l_orderkey", "q59_copurchase_pagerank")
    val ed = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
    val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // 1-row frames: node count and the shared teleport term
    val nF = deg.agg(count(lit(1)).as("n"))
    val teleF = nF.select(col("n"),
      expr(s"(15 * ($Scale div n)) div 100").as("tele"),
      expr(s"$Scale div n").as("r_init"))
    var ranks = deg.crossJoin(broadcast(teleF))
      .select(col("src").as("node"), col("deg"), col("r_init").as("r"))
    val (_, hintOn) = rankJoinHint(li)
    for (_ <- 1 to Iters) {
      val contribs = ranks.select(col("node").as("src"),
        expr("r div deg").as("contrib"))
      val s = ed
        .join(if (hintOn) contribs.hint("shuffle_hash") else contribs,
          Seq("src"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
      ranks = deg.join(s.select(col("dst").as("src"), col("s")), Seq("src"), "left")
        .crossJoin(broadcast(teleF))
        .select(col("src").as("node"), col("deg"),
          expr("tele + (85 * coalesce(s, 0)) div 100").as("r"))
    }
    ranks.select(
      col("node").as("part_key"), col("deg").as("degree"),
      col("r").as("rank_fp"),
      // constant-divisor double division — identical IEEE op both engines
      (col("r").cast("double") / lit(Scale.toDouble)).as("rank"))
  }

  /** Oracle twin — the identical 6-round unrolled fixed-point walk;
    * iteration CTEs are generated from the same [[Scale]]/[[Iters]]
    * constants so the engines can never disagree on the geometry.
    */
  private def pagerankSql: String = {
    val iters = (1 to Iters).map { k =>
      val prev = if (k == 1) "r0" else s"it${k - 1}r"
      s"""it$k AS (
         |  SELECT e.dst AS node, CAST(sum(p.r // p.deg) AS BIGINT) AS s
         |  FROM ed e JOIN $prev p ON e.src = p.node GROUP BY 1),
         |it${k}r AS (
         |  SELECT d.src AS node, d.deg, t.tele + (85 * COALESCE(s.s, 0)) // 100 AS r
         |  FROM deg d LEFT JOIN it$k s ON d.src = s.node, tele t)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |ed AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM ed GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       |tele AS (SELECT n, (15 * ($Scale // n)) // 100 AS tele, $Scale // n AS r_init FROM nn),
       |r0 AS (SELECT d.src AS node, d.deg, t.r_init AS r FROM deg d, tele t),
       |$iters
       |SELECT node AS part_key, deg AS degree, r AS rank_fp,
       |       CAST(r AS DOUBLE) / ${Scale.toDouble} AS rank
       |FROM it${Iters}r""".stripMargin
  }

  /** Fixed-point scale for the clustering coefficient (parts-per-million). */
  private val CcScale = 1000000L

  /** q60: per-part triangle census + local clustering coefficient over
    * the co-purchase graph — the cohesion lens PageRank (q59) cannot
    * give: a part whose neighbors also co-sell with EACH OTHER (high
    * clustering) anchors a coherent basket theme; a high-degree,
    * low-clustering part is a universal staple. cc = 2·Δ/(deg·(deg−1))
    * in [[CcScale]] fixed point (integer — exact cross-engine).
    *
    * Scale: triangles are enumerated on the DEGREE-ORIENTED graph —
    * each undirected edge points from its lower-(deg, key) endpoint to
    * the higher — so every triangle is generated exactly once (as its
    * unique orientation-ascending wedge u→v, v→w closed by u→w) and,
    * decisively, out-degrees are bounded by O(√m) regardless of raw
    * degree skew: a hub of degree 10⁶ has out-edges only to nodes of
    * even higher degree, of which there are few. The wedge join's
    * intermediate is Σ out-deg² — the arboricity-bounded minimum for
    * exact triangle counting (Suri & Vassilvitskii's MapReduce
    * formulation) — instead of the Σ deg² a naive adjacency self-join
    * pays, which at power-law skew is the difference between linear
    * and quadratic in the hub degree. All three hops are equi-joins
    * (shuffle-hash/SMJ at scale); per-node counts are one hash
    * aggregation over the 3-exploded triangle list; no windows.
    */
  def copurchaseTriangles(spark: SparkSession, dir: String): DataFrame =
    copurchaseTrianglesOf(Tables.lineitem(spark, dir))

  private[graft] def copurchaseTrianglesOf(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
    // loud width guard BEFORE the per-order self-join (see BasketGuard)
    BasketGuard.requireWidth(li, "l_orderkey", "q60_copurchase_triangles")
    // canonical undirected edges (u < v), one row per co-purchased pair
    val ed = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    val deg = ed.select(col("u").as("node")).unionAll(ed.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient each edge toward the higher (deg, key) endpoint
    val oe = ed
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("u")).otherwise(col("v")).as("src"),
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("v")).otherwise(col("u")).as("dst"))
      // NOT persisted (round-14 A/B): the three wedge consumers shuffle
      // oe on different keys, but the identical INNER exchanges (li
      // distinct, ed distinct, both deg joins) are AQE-reused at
      // runtime, so a persist only traded fused post-exchange recompute
      // for cache materialization — 2.45 vs 2.35 s solo-warm at sf0.1,
      // inside noise, with edge-sized cache pressure on top. Exchange
      // reuse is scale-independent; the static plan's 188 scans
      // overstate what actually runs.
    // wedge a→b→c closed by a→c: exactly one enumeration per triangle
    val tri = oe.as("e1")
      .join(oe.as("e2"), col("e1.dst") === col("e2.src"))
      .join(oe.as("e3"),
        col("e1.src") === col("e3.src") && col("e2.dst") === col("e3.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val perNode = tri.select(col("a").as("node"))
      .unionAll(tri.select(col("b").as("node")))
      .unionAll(tri.select(col("c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node").as("part_key"), col("deg").as("degree"),
        coalesce(col("tri"), lit(0L)).as("tri_cnt"),
        when(col("deg") >= 2,
          expr(s"($CcScale * 2 * coalesce(tri, 0)) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("cc_fp"))
  }

  private def trianglesSql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |ed AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT u AS node FROM ed UNION ALL SELECT v FROM ed) GROUP BY 1),
       |oe AS (
       |  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
       |              THEN e.u ELSE e.v END AS src,
       |         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
       |              THEN e.v ELSE e.u END AS dst
       |  FROM ed e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
       |tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM oe e1 JOIN oe e2 ON e1.dst = e2.src
       |       JOIN oe e3 ON e1.src = e3.src AND e2.dst = e3.dst),
       |per AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS tri
       |  FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
       |  GROUP BY 1)
       |SELECT d.node AS part_key, d.deg AS degree,
       |       COALESCE(p.tri, 0) AS tri_cnt,
       |       CASE WHEN d.deg >= 2
       |            THEN ($CcScale * 2 * COALESCE(p.tri, 0)) // (d.deg * (d.deg - 1))
       |            ELSE 0 END AS cc_fp
       |FROM deg d LEFT JOIN per p ON d.node = p.node""".stripMargin

  /** HITS fixed-point scale: 10⁹ is the largest power of ten whose
    * square stays under Long.MaxValue — the normalization step
    * multiplies a (≤ total-mass) score by the scale BEFORE the integer
    * divide, so Scale² is the overflow bound. (q59's 10¹² is safe
    * there because PageRank never multiplies two mass-scaled terms.)
    * Precision is 1 part per 10⁹ of total mass per side.
    */
  private[graft] val HitsScale = 1000000000L
  /** HITS power-iteration rounds — mutual-reinforcement converges fast
    * on the dense bipartite purchase graph; 4 keeps the oracle's
    * double-length (two half-steps/round) CTE chain readable. The
    * count is part of the operator's semantics (both engines unroll
    * the same 4 rounds).
    */
  private val HitsIters = 4

  /** q61: HITS hubs/authorities on the BIPARTITE customer→part
    * purchase graph — hubs are customers whose baskets concentrate on
    * well-endorsed parts, authorities are parts endorsed by strong
    * hubs. The co-purchase graph (q59/q60) is symmetric, which makes
    * HITS degenerate there; the bipartite orientation is where the
    * hub/authority split carries real signal (influential buyers vs
    * flagship products — the reference's "top customers" (q06) and
    * "product catalog" (q07) lenses coupled through the purchase
    * structure instead of scored independently).
    *
    * Determinism: the [[Graph]] integer fixed-point discipline —
    * per-node init mass Scale div n, each half-step is a BIGINT sum
    * (associative, order-independent) followed by an integer
    * renormalization (score·Scale div Σ) against a 1-row total frame,
    * so both engines produce bit-identical scores.
    *
    * Scale: edges = distinct (custkey, partkey) — one equi-join
    * orders⋈lineitem plus a hash distinct, linear in lineitem. Each
    * half-step is one equi-join of the edge list against a node-sized
    * score frame (broadcastable; AQE picks shuffled-hash past that)
    * and one hash aggregation — the Pregel shape, 2 exchanges per
    * half-step, no windows. The renormalization total is a 1-row
    * aggregate riding a broadcast crossJoin (the Pipeline
    * bounded-frame rule).
    */
  def purchaseHits(spark: SparkSession, dir: String): DataFrame =
    purchaseHitsOf(Tables.orders(spark, dir), Tables.lineitem(spark, dir))

  private[graft] def purchaseHitsOf(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val ed = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    val custs = ed.select(col("c")).distinct()
    // Iterative-state discipline: each half-step references its raw-sum
    // frame TWICE (its own total + the normalized next join), so an
    // unbroken declarative lineage grows the analyzed plan tree ~4× per
    // iteration — 4^iters subtrees that round 11 measured hanging the
    // driver on analysis/codegen (and the round-12 crossJoin-only
    // retry OOM'd an 8 GB driver the same way). Each half-step
    // therefore cuts lineage with a LAZY localCheckpoint of its
    // node-sized raw-sum frame: the plan tree stays CONSTANT per
    // iteration (the checkpointed frame is a leaf), the RDD
    // materializes inside the single final action and is cached for
    // its two consumers — ZERO in-loop driver jobs, which is what
    // distinguishes this from both round 11's per-total `.collect()`s
    // (8 job-submission barriers per run, flagged by the round-11
    // verdict) and round 10's EAGER localCheckpoint (16 extra
    // scheduling-overhead jobs, measured 2-3× slower). The
    // renormalization total rides back as a 1-ROW BROADCAST FRAME via
    // crossJoin — the q39/d26 bounded-frame rule — and the stat-less
    // checkpoint leaves are re-planned at runtime by AQE (broadcast vs
    // shuffled hash for each edge join), replacing the cache-stats
    // benefit the collects used to provide. Checkpointed RDD blocks
    // (8 per run, MEMORY_AND_DISK) are NOT CacheManager-tracked, so
    // spark.catalog.clearCache() does not free them — they release
    // when the ContextCleaner garbage-collects the RDD references
    // after this method's frames go unreachable (round-13 advice);
    // bounded either way: each run's blocks are a few score-table
    // copies, reclaimed before memory pressure matters.
    ed.persist()
    var hub = custs
      .crossJoin(broadcast(custs.agg(count(lit(1)).as("n"))))
      .select(col("c"), expr(s"$HitsScale div n").as("h"))
    var auth: DataFrame = null
    for (_ <- 1 to HitsIters) {
      // SHUFFLED HASH on the score side of each half-step (guide §3,
      // the q63 rationale): the stat-less checkpoint leaves made the
      // planner default both half-step joins to SMJ, re-sorting the
      // cached edge list every half-step. The score frames are
      // node-sized — a per-partition hash build — and grow with the
      // graph, so the hint (not broadcast) is the scale-safe form.
      // Round-14 back-to-back A/B at sf0.1: 4.8 → 4.1 s solo-warm.
      val aRaw = ed.join(hub.hint("shuffle_hash"), Seq("c"))
        .groupBy(col("p")).agg(sum(col("h")).as("a")).localCheckpoint(false)
      auth = aRaw.crossJoin(broadcast(aRaw.agg(sum(col("a")).as("ta"))))
        .select(col("p"), expr(s"(a * $HitsScale) div ta").as("a"))
      val hRaw = ed.join(auth.hint("shuffle_hash"), Seq("p"))
        .groupBy(col("c")).agg(sum(col("a")).as("h")).localCheckpoint(false)
      hub = hRaw.crossJoin(broadcast(hRaw.agg(sum(col("h")).as("th"))))
        .select(col("c"), expr(s"(h * $HitsScale) div th").as("h"))
    }
    hub.select(lit("customer").as("node_type"), col("c").as("node_key"),
        col("h").as("score_fp"))
      .unionAll(auth.select(lit("part").as("node_type"), col("p").as("node_key"),
        col("a").as("score_fp")))
      .select(col("node_type"), col("node_key"), col("score_fp"),
        // constant-divisor double division — identical IEEE op both engines
        (col("score_fp").cast("double") / lit(HitsScale.toDouble)).as("score"))
  }

  /** Oracle twin — the identical 4-round unrolled half-step chain,
    * generated from the same [[HitsScale]]/[[HitsIters]] constants.
    * Multi-referenced CTEs are MATERIALIZED for the same reason the
    * Spark side persists them: each raw-sum frame feeds both its own
    * total and the next join, and DuckDB 1.0 inlines CTEs by default —
    * un-materialized, the re-expanded tree re-evaluates the edge build
    * 4^iters times (the engines share the failure mode, not just the
    * semantics).
    */
  private def hitsSql: String = {
    val iters = (1 to HitsIters).map { k =>
      val prevH = if (k == 1) "h0" else s"h${k - 1}"
      s"""a${k}r AS MATERIALIZED (
         |  SELECT e.p, CAST(sum(h.h) AS BIGINT) AS a
         |  FROM ed e JOIN $prevH h ON e.c = h.c GROUP BY 1),
         |a$k AS MATERIALIZED (
         |  SELECT p, (a * $HitsScale) // t.ta AS a
         |  FROM a${k}r, (SELECT CAST(sum(a) AS BIGINT) AS ta FROM a${k}r) t),
         |h${k}r AS MATERIALIZED (
         |  SELECT e.c, CAST(sum(a.a) AS BIGINT) AS h
         |  FROM ed e JOIN a$k a ON e.p = a.p GROUP BY 1),
         |h$k AS MATERIALIZED (
         |  SELECT c, (h * $HitsScale) // t.th AS h
         |  FROM h${k}r, (SELECT CAST(sum(h) AS BIGINT) AS th FROM h${k}r) t)""".stripMargin
    }.mkString(",\n")
    s"""WITH ed AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |custs AS (SELECT DISTINCT c FROM ed),
       |h0 AS (
       |  SELECT c, ($HitsScale // t.n) AS h
       |  FROM custs, (SELECT CAST(count(*) AS BIGINT) AS n FROM custs) t),
       |$iters
       |SELECT 'customer' AS node_type, c AS node_key, h AS score_fp,
       |       CAST(h AS DOUBLE) / ${HitsScale.toDouble} AS score
       |FROM h$HitsIters
       |UNION ALL
       |SELECT 'part', p, a, CAST(a AS DOUBLE) / ${HitsScale.toDouble}
       |FROM a$HitsIters""".stripMargin
  }

  /** Min-label propagation rounds for q63. Six rounds label every node
    * with the minimum part key within 6 hops — on the dense co-purchase
    * graph (diameter ~3-4) that is the true component id; on a
    * pathological chain it is a defined, deterministic 6-hop
    * approximation. The round count is part of the operator's semantics
    * (both engines unroll the same 6), exactly the q59/q61 discipline.
    * Production at adversarial diameters would switch to the
    * pointer-doubling form (Dedup.connectedComponents — O(log d)
    * rounds); the fixed-round propagation is kept here because it is
    * the shape whose oracle is replayable as a finite CTE chain. The
    * approximation is NOT silent: q63 emits a `converged` flag (did any
    * label still move in the final round) so a diameter-> CcIters graph
    * announces itself instead of under-merging quietly.
    */
  private val CcIters = 6

  /** q63: connected components + component-size census over the
    * co-purchase graph — the partition lens the family still lacked:
    * q59 ranks nodes WITHIN the connected structure and q60 measures
    * local cohesion, but neither answers "how many disjoint product
    * universes does the catalog contain, and how big is each" (the
    * assortment-isolation question; a component that never co-sells
    * with the rest is its own market). The census covers EVERY part
    * that appears in lineitem: parts with no co-purchase partner report
    * as size-1 components (their self-loop carries their own label),
    * and a `converged` column reports whether the final round was a
    * certified fixpoint. The flag is CONSERVATIVE: true ⇒ labels are
    * final; false ⇒ fixpoint not certified (diameter ≥ [[CcIters]] is
    * POSSIBLE — a path of diameter exactly [[CcIters]] fully merges in
    * the last round yet still reports false, because that round saw
    * movement). Treat false as "re-check with pointer-doubling", not as
    * proof of under-merge — see [[CcIters]].
    *
    * Scale: each round is ONE edges⋈labels equi-join plus a min hash
    * aggregation (map-side combining, the Pregel shape) — the label
    * frame is node-sized and each round references it once, so the
    * declarative lineage stays linear in rounds (no persist needed,
    * unlike q61 whose half-steps reference their frame twice). min() is
    * associative/commutative integer arithmetic — bit-identical across
    * engines regardless of aggregation order.
    */
  def copurchaseComponents(spark: SparkSession, dir: String): DataFrame =
    copurchaseComponentsOf(Tables.lineitem(spark, dir))

  private[graft] def copurchaseComponentsOf(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
    // loud width guard BEFORE the per-order self-join (see BasketGuard)
    BasketGuard.requireWidth(li, "l_orderkey", "q63_copurchase_components")
    val ed = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
    // SELF-LOOPS fold "keep my own label" into the message stream, so
    // each round is ONE edges⋈labels join + ONE min aggregation and the
    // label frame is referenced ONCE per round — the naive form
    // (propagate, then least() against the previous frame) references
    // it twice, which DOUBLES the analyzed tree per round (the q61
    // lineage lesson; measured 10+ s vs ~2 s at sf0.1 for this exact
    // operator before the rewrite).
    // Nodes come from LINEITEM, not from the edge list: a part whose
    // orders never contain a second part has no co-purchase edge, but it
    // is still a (singleton) product universe — seeding it here means its
    // self-loop carries its own label through every round and it reports
    // as a size-1 component instead of vanishing from the census.
    val nodes = li.select(col("l_partkey").as("node")).distinct()
    val edS = ed.unionAll(nodes.select(col("node").as("src"), col("node").as("dst")))
    // NOT persisted, on measurement: caching the 4M-row edge frame (the
    // q61 discipline) read 11 s vs 4 s at sf0.1 — materializing the
    // cache and reading 6 joins through it costs MORE than the 6 fused
    // codegen'd rebuilds of the edge chain it avoids. q61 persists
    // because its frames are REFERENCED TWICE per half-step (lineage
    // doubling); here the lineage is already linear, so the cache only
    // trades fused scans for cache-read overhead.
    var lab = nodes.withColumn("l", col("node"))
    for (i <- 1 to CcIters) {
      // SHUFFLED HASH, not sort-merge (guide §3): the label side is
      // node-sized (≪ edges) and the planner's default SMJ re-sorted
      // the 2|E|-row edge side EVERY round — six edge sorts whose only
      // purpose was merging against a frame that fits a per-partition
      // hash table. The hint builds on the label side and streams the
      // edges unsorted; round-14 back-to-back A/B at sf0.1: 5.2 →
      // 3.9 s solo-warm.
      // (Broadcast is NOT the answer: labels are node-sized and grow
      // with the catalog, so the hint keeps the scale-safe exchange.)
      val joined = edS
        .join(lab.select(col("node").as("src"), col("l")).hint("shuffle_hash"),
          Seq("src"))
      lab =
        if (i < CcIters)
          joined.groupBy(col("dst")).agg(min(col("l")).as("l"))
            .select(col("dst").as("node"), col("l"))
        else
          // CONVERGENCE TRIPWIRE: on a graph of diameter > CcIters the
          // fixed rounds under-merge SILENTLY — so the final round also
          // recovers each node's PREVIOUS label from its own self-loop
          // message (the src == dst row carries exactly that), making
          // the movement count ONE extra agg column — never a second
          // pass over the 5-round chain (a lab5-vs-lab6 join re-executed
          // the chain and read 8.1 s in-bench vs ~4 s for this form).
          joined.groupBy(col("dst")).agg(
              min(col("l")).as("l"),
              min(when(col("src") === col("dst"), col("l"))).as("lp"))
            .select(col("dst").as("node"), col("l"), col("lp"))
    }
    // node-sized pin: the final frame feeds the size agg, the census
    // join, AND the converged agg (3 references would otherwise run the
    // 6-round chain 3×) — unlike the 4M-row edge frame (see above),
    // caching bytes-per-node is strictly cheaper than one rebuild
    // Cache lifetime contract: the persisted label frame is released by
    // the harness's per-query clearCache (Bench/Verify); a long-lived
    // session invoking this repeatedly should clear the cache between
    // calls (the returned frame still references `lab`, so unpersisting
    // before the caller materializes would re-run the 6-round chain 3×).
    lab = lab.persist()
    // converged=false ⇒ fixpoint NOT CERTIFIED (labels moved in the last
    // round; diameter ≥ CcIters possible but not proven — a diameter-
    // exactly-CcIters graph merges fully yet reports false). Escalation
    // to pointer-doubling (Dedup.connectedComponents, O(log d)) is the
    // re-check, not an admission of under-merge.
    val moved = lab
      .agg(sum(when(col("l") =!= col("lp"), 1L).otherwise(0L)).as("n_moved"))
    val sizes = lab.groupBy(col("l")).agg(count(lit(1)).as("comp_size"))
    lab.join(sizes, Seq("l")).crossJoin(broadcast(moved))
      .select(col("node").as("part_key"), col("l").as("component"), col("comp_size"),
        (col("n_moved") === 0).as("converged"))
  }

  /** Oracle twin — the identical 6-round unrolled min-propagation,
    * generated from the same [[CcIters]] constant. Every label CTE is
    * MATERIALIZED (the q61 lesson): each l\$k is referenced twice (its
    * own round's join AND the next round's base) and `ed` is referenced
    * every round, so DuckDB's default inlining would re-expand the tree
    * ~2× per round — 2⁶ re-evaluations of the edge build, measured as a
    * disk-spilling runaway at sf0.1 before this pin.
    */
  private def componentsSql: String = {
    val iters = (1 to CcIters).map { k =>
      val prev = if (k == 1) "l0" else s"l${k - 1}"
      if (k < CcIters)
        s"""l$k AS MATERIALIZED (
           |  SELECT e.dst AS node, min(p.l) AS l
           |  FROM eds e JOIN $prev p ON e.src = p.node GROUP BY 1)""".stripMargin
      else
        // final round also carries the previous label off the self-loop
        // message — the Spark side's one-extra-agg-column convergence form
        s"""l$k AS MATERIALIZED (
           |  SELECT e.dst AS node, min(p.l) AS l,
           |         min(CASE WHEN e.src = e.dst THEN p.l END) AS lp
           |  FROM eds e JOIN $prev p ON e.src = p.node GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |ed AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |nodes AS MATERIALIZED (SELECT DISTINCT l_partkey AS node FROM li),
       |eds AS MATERIALIZED (
       |  SELECT src, dst FROM ed UNION ALL SELECT node, node FROM nodes),
       |l0 AS MATERIALIZED (SELECT node, node AS l FROM nodes),
       |$iters,
       |moved AS (
       |  SELECT CAST(sum(CASE WHEN l <> lp THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
       |  FROM l$CcIters),
       |sizes AS (SELECT l, CAST(count(*) AS BIGINT) AS comp_size FROM l$CcIters GROUP BY 1)
       |SELECT f.node AS part_key, f.l AS component, s.comp_size,
       |       (m.n_moved = 0) AS converged
       |FROM l$CcIters f JOIN sizes s ON f.l = s.l, moved m""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q59_copurchase_pagerank" -> copurchasePagerank,
    "q60_copurchase_triangles" -> copurchaseTriangles,
    "q61_purchase_hits" -> purchaseHits,
    "q63_copurchase_components" -> copurchaseComponents)

  val oracle: Map[String, String] = Map(
    "q59_copurchase_pagerank" -> pagerankSql,
    "q60_copurchase_triangles" -> trianglesSql,
    "q61_purchase_hits" -> hitsSql,
    "q63_copurchase_components" -> componentsSql)
}
