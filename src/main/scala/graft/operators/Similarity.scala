package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.sources.{Sinks, Tables}

/** Similarity search over the embedding corpus:
  *
  *  - d05 brute-force cosine top-k — the exact ANN baseline: a bounded
  *    query set joined against the full corpus, cosine via native
  *    higher-order functions, per-query top-k window. At cluster scale
  *    the query set broadcasts and the corpus streams — no shuffle of
  *    the big side, wall-clock linear in corpus size.
  *  - d06 random-hyperplane LSH — the scale path: 8 deterministic
  *    hyperplanes (sign pattern derived from md5, so any engine can
  *    reproduce them), sign-bit bucketing; neighbor candidates are
  *    in-bucket only, turning O(n²) search into bucket-local work.
  *
  * Ranking determinism: ranks are computed on ROUND(cos, 4) with vec_id
  * tiebreak, so ordering never depends on sub-ULP float noise.
  */
object Similarity {

  // ─── d05 brute-force cosine top-k ────────────────────────────────────
  /** The exact baseline over a fixed 20-vector query set: its cost is
    * broadcast-queries × streamed-corpus, so a wide query set would
    * re-create the all-pairs scan the ANN family exists to avoid.
    */
  def embeddingKnn(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val queries = e.filter(col("vec_id") < 20L)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val corpus = e.select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
    // fused single-pass scorer (custom codegen Expression); bit-identical
    // to VectorFunctions.cosine (same index-ordered folds)
    val scored = corpus.join(broadcast(queries), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(graft.plans.CosineSimilarity.cosineSim(col("q_emb"), col("c_emb")), 4)
          .as("cosine_sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine_sim").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
  }

  // ─── d06 random-hyperplane LSH bucketing ─────────────────────────────
  private val lshPlanes = 8
  private val lshMaxDims = 256

  /** Hyperplane sign matrix, precomputed DRIVER-SIDE: sign for (plane j,
    * dim d) is the high bit of md5("hp_j_d") — the same family any
    * engine can reproduce (first hex char in 8..f ⇔ 0x80 set on byte 0).
    * Materializing it as an 8×256 literal keeps ALL hashing out of the
    * per-row path: the round-3 inline-md5 form evaluated ~dims×8 md5 +
    * string concats per vector inside an interpreted lambda and
    * measured 4–16s at sf0.1; a literal lookup is pure arithmetic.
    */
  private lazy val lshSigns: Array[Array[Double]] =
    Array.tabulate(lshPlanes, lshMaxDims) { (j, d0) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"hp_${j}_${d0 + 1}".getBytes("UTF-8"))
      if ((h(0) & 0x80) != 0) 1.0 else -1.0
    }

  /** All 8 hyperplane sign-bits in ONE narrow projection — no explode,
    * no per-row hashing. Per plane, the signed components fold via
    * zip_with against the plane's literal sign row (sliced to the
    * vector's length; index order — deterministic at any parallelism),
    * so the only shuffle in the plan is the bucket-size count,
    * broadcast-joined back (a window partitioned by the 256 bucket keys
    * would funnel the corpus into ≤256 tasks). Supports dims ≤ 256;
    * wider embeddings would grow the literal, still O(planes×dims)
    * driver-side constants.
    *
    * Measured and REJECTED: folding all 8 planes in one `aggregate`
    * pass with a struct-of-8 accumulator (reading the array once
    * instead of 8×) ran 4.7× SLOWER at sf0.1 (1.0s → 4.8s) — the
    * per-element struct re-creation inside ArrayAggregate costs far
    * more than the extra slice traversals it saves. The 8-slice
    * zip_with form stays.
    */
  def embeddingLsh(spark: SparkSession, dir: String): DataFrame = {
    val signLit = array(lshSigns.map(row => array(row.map(lit(_)): _*)): _*)
    val emb = asDouble(col("embedding"))
    val bucketOf = aggregate(
      transform(sequence(lit(0), lit(7)), j =>
        when(
          aggregate(
            zip_with(emb, slice(element_at(signLit, (j + 1).cast("int")), lit(1), size(emb)),
              (v, s) => v * s),
            lit(0.0), (acc, x) => acc + x) > 0,
          round(pow(lit(2.0), j), 0).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc + b)
    val buckets = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        bucketOf.as("lsh_bucket"))
    val sizes = buckets.groupBy(col("lsh_bucket"))
      .agg(count(lit(1)).as("bucket_size"))
    buckets.join(broadcast(sizes), Seq("lsh_bucket"))
      .select(col("vec_id"), col("label"), col("lsh_bucket"), col("bucket_size"))
  }

  // ─── d11 embedding-cosine near-dup report (bucket-blocked) ───────────
  /** Embedding-space near-duplicate report: each vector's single
    * nearest neighbor WITHIN its hyperplane-LSH bucket (the d06
    * blocking — candidate pairs are bucket-local, never all-pairs),
    * with the exact fused cosine and an `is_near_dup` flag at 0.99.
    * Zero-safe: vectors in singleton buckets report a null neighbor —
    * "no candidate" is a result, exactly like d08's clean benchmark
    * rows. The top-1 is a map-side max(struct) argmax (no per-vector
    * window); ties break to the smaller neighbor id.
    *
    * Scale: the bucket self-join is the LSH contract — quadratic only
    * within a bucket, and bucket sizes are corpus/2^planes in
    * expectation; more planes shrink buckets as the corpus grows.
    */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val buckets = embeddingLsh(spark, dir).select(col("vec_id"), col("lsh_bucket"))
    val withEmb = buckets.join(corpusEmb(spark, dir), Seq("vec_id"))
    val pairs = withEmb.select(col("vec_id"), col("lsh_bucket"), col("emb"))
      .as("a")
      .join(withEmb.select(col("vec_id").as("nn_id"), col("lsh_bucket"), col("emb").as("nn_emb")).as("b"),
        col("a.lsh_bucket") === col("b.lsh_bucket") && col("a.vec_id") =!= col("nn_id"))
      .select(col("a.vec_id").as("vec_id"),
        cosR(col("a.emb"), col("nn_emb")).as("cos_r"), col("nn_id"))
    val top1 = pairs.groupBy(col("vec_id"))
      .agg(max(struct(col("cos_r"), (-col("nn_id")).as("neg_id"))).as("best"))
      .select(col("vec_id"), (-col("best.neg_id")).as("nn_vec_id"),
        col("best.cos_r").as("nn_cosine"))
    // top1 is corpus-proportional (one row per non-singleton-bucket
    // vector) — it must NOT broadcast; the zero-safe join shuffles on
    // vec_id like any fact-fact equi-join
    buckets.join(top1, Seq("vec_id"), "left")
      .select(col("vec_id"), col("lsh_bucket"), col("nn_vec_id"), col("nn_cosine"),
        coalesce(col("nn_cosine") >= 0.99, lit(false)).as("is_near_dup"))
  }

  // ─── q24 IVF coarse quantization with k-means codebook (index build) ─
  /** Inverted-file ANN, build stage: a k-cell coarse codebook (default
    * 16; k is a build parameter — pick ~√n at production scale) seeded
    * by deterministic hash-spread over mod-k vec_id buckets and refined
    * with TWO deterministic Lloyd iterations, then nearest-centroid
    * cell assignment. Search probes only the query's cell(s) —
    * 1/k-sized scans at 100 TB.
    *
    * Determinism at any parallelism (the property that lets DuckDB
    * replay the identical k-means): centroid means accumulate in exact
    * DECIMAL(27,10) — float sums are partition-order-sensitive, decimal
    * sums are not — and only the final exact sum is cast back to double
    * before the (exact-operand, hence deterministic) division by the
    * cell count. Assignments order on ROUND(cos, 4) with centroid_id
    * tiebreak.
    *
    * Scale shape per Lloyd pass: broadcast the 16-row codebook, score
    * with the fused codegen cosine, pick the arg-max via a map-side-
    * combining max(struct) aggregation (NO per-vector window shuffle),
    * then one (centroid, dim) mean reduction — 16×dims grid, trivially
    * small. Cell sizes come from a broadcast-joined count, not a window
    * partitioned by 16 keys (which would funnel the whole corpus into 16
    * tasks).
    *
    * The corpus is scored exactly TWICE (one E-step per Lloyd
    * iteration): the published assignment IS the final iteration's
    * E-step — the assignment that produced the final centroids — not a
    * third re-scoring pass against the finished codebook (the round-3
    * shape, which paid one full corpus × 16-centroid pass for
    * assignments the last iteration had already computed).
    */
  def ivfAssign(spark: SparkSession, dir: String): DataFrame =
    assignmentFrom(ivfModel(corpusEmb(spark, dir), defaultCells)._2)

  private def corpusEmb(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))

  private def cosR(a: Column, b: Column): Column =
    round(graft.plans.CosineSimilarity.cosineSim(a, b), 4)

  /** Nearest centroid per vector — highest 4-dp-rounded cosine,
    * smallest centroid_id on ties, identical to the oracle's
    * ORDER BY cos_r DESC, centroid_id.
    *
    * Physically a pure MAP: the bounded codebook (k ≤ 4096 cells ×
    * dim doubles ≈ 2 MB under [[adaptiveCells]]' clamp) is collected
    * to the driver — a MODEL materialization, exactly how MLlib's
    * KMeans treats its centers each Lloyd iteration — and rides into
    * the codegen'd [[graft.plans.NearestCentroid]] loop as reference
    * objects. The earlier declarative form (crossJoin(broadcast) →
    * groupBy(vec_id) → max(struct)) computed the same thing but its
    * `max(struct)`/`first(array)` buffers are not hash-aggregable, so
    * Spark planned a SORT aggregate over n·k rows carrying the full
    * embedding array — Θ(n^1.5) externally-sorted bytes at the
    * semantic family's k = ⌊√n⌋ (the round-9 sf10 scaling point
    * measured 398 s of mostly spill; this map form removes the
    * intermediate entirely, E-step output is exactly n rows).
    * NearestCentroidSpec pins bit-equality against the old plan shape.
    */
  private[graft] def assignTo(e: DataFrame, cents: DataFrame): DataFrame = {
    val rows = cents.select(col("centroid_id").cast("long"), col("c_emb")).collect()
    require(rows.nonEmpty, "assignTo: empty codebook")
    val cb = rows.map { r =>
      require(!r.isNullAt(1), s"assignTo: null centroid ${r.getLong(0)}")
      (r.getLong(0), r.getSeq[Double](1).toArray)
    }.sortBy(_._1)
    val dim = cb.head._2.length
    require(cb.forall(_._2.length == dim),
      s"assignTo: ragged codebook (expected uniform dim $dim)")
    val nearest = graft.plans.NearestCentroid.nearestCentroid(
      col("emb"), cb.map(_._1), cb.flatMap(_._2), dim)
    e.select(col("vec_id"), col("emb"), nearest.as("nc"))
      .select(col("vec_id"), col("emb"),
        col("nc.centroid_id").as("centroid_id"), col("nc.cos_r").as("cos_r"))
  }

  // one Lloyd M-step over an E-step's assignment: element-wise
  // decimal-exact mean per (cell, dim), rebuilt into an array ordered by
  // dim; empty cells keep their previous centroid
  private def meansFrom(assigned: DataFrame, cents: DataFrame): DataFrame = {
    val means = assigned
      .select(col("centroid_id"), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy(col("centroid_id"), col("pos"))
      .agg((sum(col("v").cast("decimal(27,10)")).cast("double") / count(lit(1))).as("m"))
      .groupBy(col("centroid_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("c_emb_new"))
    cents.join(means, Seq("centroid_id"), "left")
      .select(col("centroid_id"),
        coalesce(col("c_emb_new"), col("c_emb")).as("c_emb"))
  }

  /** Default codebook size. At production scale pick k ≈ √n cells
    * (probe cost n/k balanced against k centroid scorings per query)
    * and pass it to [[ivfBuild]] — the build is parameterized, the
    * search stages read whatever k the published artifact carries.
    */
  val defaultCells = 16

  /** √n-adaptive codebook size: k = ⌊√n⌋ clamped to [1, 4096] — the
    * balance point where per-query work (k centroid scorings + n/k
    * cell members) is minimized for nprobe=1, and where the SEMANTIC
    * family's total cost (build 2·n·k + within-cell pairs n²/k) hits
    * its flat-IVF optimum Θ(n^1.5). Derivable from the corpus count
    * alone, so any engine replays the choice (the q48 oracle computes
    * the same k in SQL); the clamp bounds the broadcast codebook
    * (4096 × dim doubles ≈ 2 MB at dim 64 — a deliberate guard, NOT a
    * tuning default: past n = 16.7M the clamp re-linearizes k and the
    * within-cell pair term grows again, which is where a deployment
    * raises the clamp or adds a coarse-quantizer level over the
    * centroids; the round-9 4-point scaling record is what exposed the
    * quadratic cost of letting cell sizes grow with the corpus).
    * k=16 stays the deterministic default for the SEARCH family —
    * hand-tuned probe cost, recall-curve continuity across rounds.
    */
  def adaptiveCells(n: Long): Int =
    math.max(1, math.min(4096, math.floor(math.sqrt(n.toDouble)).toInt))

  /** Adaptive-k twin of [[ivfAssign]]: one bounded count picks k, then
    * the standard model runs. An adaptive index is
    * `ivfBuild(spark, dir, adaptiveCells(n))`; the search stages need
    * no changes — they read k from the published artifacts (the
    * reason k was never baked into the index key).
    */
  def ivfAssignAdaptive(spark: SparkSession, dir: String): DataFrame = {
    val e = corpusEmb(spark, dir)
    assignmentFrom(ivfModel(e, adaptiveCells(e.count()))._2)
  }

  /** Deterministic hash-spread seeding: one seed per mod-k bucket of
    * vec_id — the bucket member with the smallest (md5(vec_id), vec_id)
    * pair. Unlike the round-4 `vec_id < 16` form, the seeds draw from
    * the WHOLE corpus (the first k ids could all be near-identical
    * crawl neighbors at 100 TB, collapsing the codebook), every bucket
    * is non-empty for any k ≤ n, and any engine can replay the choice
    * (md5 ties broken by the unique id). One map-side-combining
    * k-key aggregation — no window, no sort.
    */
  private def seedCodebook(e: DataFrame, k: Int): DataFrame =
    e.groupBy(pmod(col("vec_id"), lit(k.toLong)).as("centroid_id"))
      .agg(min(struct(
        md5(col("vec_id").cast("string")).as("h"),
        col("vec_id").as("v"),
        col("emb").as("e"))).as("s"))
      .select(col("centroid_id"), col("s.e").as("c_emb"))

  /** The whole k-means model in TWO corpus E-steps: seed c0 →
    * assign(c0) → means c1 → assign(c1) → means c2. Returns (final
    * codebook c2, final E-step assignment a2). a2 is BOTH the input to
    * the final M-step and the published assignment — the two consumers
    * share one plan, so callers that materialize both should persist a2
    * (its identical Exchange subtree is also reused within a single
    * action by Spark's ReuseExchange rule).
    */
  private def ivfModel(e: DataFrame, k: Int): (DataFrame, DataFrame) = {
    require(k > 0, s"IVF codebook needs at least one cell, got k=$k")
    val c0 = seedCodebook(e, k)
    val c1 = meansFrom(assignTo(e, c0), c0)
    val a2 = assignTo(e, c1)
    (meansFrom(a2, c1), a2)
  }

  /** Published-assignment projection of a final E-step: per-vector cell
    * + cell sizes via broadcast-joined count (never a window partitioned
    * by the 16 cell keys).
    */
  private def assignmentFrom(a2: DataFrame): DataFrame = {
    val fin = a2.select(col("vec_id"), col("centroid_id"), col("cos_r").as("cos_to_centroid"))
    val sizes = fin.groupBy(col("centroid_id")).agg(count(lit(1)).as("cell_size"))
    fin.join(broadcast(sizes), Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"), col("cos_to_centroid"), col("cell_size"))
  }

  // ─── IVF index persistence (build once, search many) ─────────────────
  /** Warehouse path for the persisted IVF index of `dir` — the
    * assignment table (vec_id → centroid_id + quality + cell size) that
    * q24 builds and q32 probes. A real ANN deployment builds the index
    * once and serves many searches; re-deriving the codebook per query
    * (the round-2 q32 shape) made the "scan-reduction payoff" cost more
    * than the brute-force baseline.
    */
  /** Index artifact `family` of `dir`, keyed by the embeddings file's
    * fingerprint (Sinks.artifactKey), so a REGENERATED source
    * invalidates the persisted index automatically (a stale index would
    * silently serve assignments for data that no longer exists).
    * `tag` prefixes the key (a split spec or a dependent tier's
    * version).
    */
  private def indexArtifact(spark: SparkSession, family: String, dir: String,
                            tag: String = ""): String =
    // "v3": index FORMAT version — v3 seeds the codebook by hash-spread
    // mod-k buckets (v2 seeded from vec_id < 16; v1 was the 3-pass
    // build); the version bump invalidates older indexes the source
    // fingerprint alone would wrongly accept as fresh. k is NOT in the
    // key: a corpus has ONE active index (a rebuild with a new k
    // replaces it, the production deployment contract), and searchers
    // read k from the published codebook rather than assuming one.
    Sinks.artifactPath(spark, family, dir, "embeddings.parquet", s"${tag}v3")

  private def indexPath(spark: SparkSession, dir: String): String =
    indexArtifact(spark, "ivf_index", dir)

  /** Codebook sibling of [[indexPath]]: the 16 centroid embeddings.
    * Search stages with nprobe > 1 rank cells by cosine to these —
    * the assignment table alone can't say which OTHER cells are near a
    * query.
    */
  private def codebookPath(spark: SparkSession, dir: String): String =
    indexArtifact(spark, "ivf_codebook", dir)

  /** q24 entry: run the k-means build ([[ivfAssign]]) and PERSIST the
    * result as the IVF index (stage-then-swap, same pattern as
    * Scd2.mergeInto) — assignment AND codebook — returning the published
    * assignment. Build cost lives here; the search stages read the
    * artifacts.
    */
  def ivfBuild(spark: SparkSession, dir: String): DataFrame =
    ivfBuild(spark, dir, defaultCells)

  def ivfBuild(spark: SparkSession, dir: String, k: Int): DataFrame = {
    publishIndex(corpusEmb(spark, dir), k,
      indexPath(spark, dir), codebookPath(spark, dir))
    spark.read.parquet(indexPath(spark, dir))
  }

  /** Shared build-and-publish leg of [[ivfBuild]] and the semantic
    * family's [[semanticIndex]]: run the 2-E-step model at `k` and
    * stage-publish codebook + assignment to the given paths.
    */
  private def publishIndex(e: DataFrame, k: Int,
                           idxPath: String, cbPath: String): Unit = {
    val (c2, a2) = ivfModel(e, k)
    // the final E-step feeds BOTH artifact writes (codebook = its means,
    // assignment = its projection); persist it across the two actions so
    // the corpus is scored exactly twice total (MEMORY_AND_DISK default —
    // at cluster scale the E-step frame spills rather than recomputes).
    // Released deterministically before returning: nothing leaks into
    // the caller's session.
    a2.persist()
    try {
      Sinks.publish(c2, cbPath)
      Sinks.publish(assignmentFrom(a2), idxPath)
    } finally a2.unpersist(false)
  }

  /** Build the index iff either artifact is missing (e.g. a fresh
    * session running a search stage standalone).
    */
  private def ensureIndex(spark: SparkSession, dir: String): Unit =
    if (!Sinks.exists(spark, indexPath(spark, dir), codebookPath(spark, dir)))
      ivfBuild(spark, dir)

  // ─── semantic-family adaptive index (d22/d23) ────────────────────────
  /** The semantic family's OWN index, built at [[adaptiveCells]](n)
    * rather than the search family's hand-tuned k = 16. The two
    * consumers want different granularities: SEARCH wants few cells
    * (probe cost = k centroid scorings + one cell scan, and the q35/q50
    * recall curves need a stable k across rounds), while DEDUP pays the
    * WITHIN-CELL PAIR term Σ|cell|² — with k fixed, cell sizes grow
    * linearly in the corpus and d22's work grows QUADRATICALLY (the
    * round-9 4-point scaling record measured exactly that: sf1→sf3 took
    * 1.8 s → 16.6 s on 3× the vectors, exponent 1.12). At k = ⌊√n⌋ the
    * build (2·n·k) and the pair term (n²/k) balance at Θ(n^1.5) — the
    * flat-IVF optimum; pushing further toward n log n takes a
    * hierarchical coarse-quantizer over the centroids (backlog, and the
    * documented reason [[adaptiveCells]] carries a clamp).
    *
    * Published as its own artifact pair (`ivf_index_sem` /
    * `ivf_codebook_sem`, same source-fingerprint key) so the search
    * family's k=16 artifacts and their oracles are untouched, and so
    * d22/d23 share one build across calls and sessions.
    */
  def semanticIndex(spark: SparkSession, dir: String): DataFrame = {
    val idx = indexArtifact(spark, "ivf_index_sem", dir)
    val cb = indexArtifact(spark, "ivf_codebook_sem", dir)
    if (!Sinks.exists(spark, idx, cb)) {
      val e = corpusEmb(spark, dir)
      publishIndex(e, adaptiveCells(e.count()), idx, cb)
    }
    spark.read.parquet(idx)
  }

  // ─── q32 IVF search stage (probe the query's cell only) ──────────────
  /** ANN search over the q24 index: each query probes ONLY its own
    * coarse cell (nprobe=1) and ranks the cell's members with the fused
    * cosine — the 1/16th-scan payoff of building the IVF index. Recall
    * is traded for probe locality exactly as in a production IVF index;
    * d05 stays the exact brute-force baseline to measure that trade
    * against.
    *
    * Reads the index q24 persisted (building it first only if missing —
    * e.g. a fresh session running the search stage standalone); the
    * search plan itself is a broadcast of the bounded query set against
    * an equi-join on centroid_id, so only members of probed cells flow
    * into scoring, and the top-k window partitions by the bounded q_id
    * set.
    */
  def ivfSearch(spark: SparkSession, dir: String): DataFrame = {
    val path = indexPath(spark, dir)
    ensureIndex(spark, dir)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val member = spark.read.parquet(path)
      .select(col("vec_id"), col("centroid_id"))
      .join(e, Seq("vec_id"))
    val qs = member.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("centroid_id"), col("emb").as("q_emb"))
    val scored = member
      .select(col("vec_id").as("c_id"), col("centroid_id"), col("emb").as("c_emb"))
      .join(broadcast(qs), Seq("centroid_id"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(graft.plans.CosineSimilarity.cosineSim(col("q_emb"), col("c_emb")), 4)
          .as("cosine_sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine_sim").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
  }

  // ─── q68 two-stage PQ re-rank serving (q49 ∘ exact) ──────────────────
  /** The production ANN serving shape: the PQ-COMPRESSED index
    * proposes, exact vectors verify. Stage 1 widens q49's in-cell
    * approximate scoring (codebook-reconstructed vectors, ~40× fewer
    * bytes than raw) to the top-20 candidates per query; stage 2
    * re-scores ONLY those candidates against their true embeddings —
    * the bounded candidate list (queries × 20 rows) broadcast-joins
    * the corpus scan, never a corpus-wide exact cosine — and serves
    * the exact top-5 with both scores and both ranks. This closes the
    * raw-PQ recall gap q50 measures, at the cost of 20 true-vector
    * fetches per query: exactly the quantizer-proposes /
    * full-precision-verifies split every large ANN deployment runs.
    *
    * Scale: stage 1 inherits q49's plan (broadcast bounded query set
    * ⋈ centroid_id over the PQ artifact); stage 2's only corpus-sized
    * term is one broadcast-hash probe of the embeddings scan by the
    * candidate id set. Windows partition by the bounded q_id set.
    */
  def pqRerank(spark: SparkSession, dir: String): DataFrame = {
    ensurePq(spark, dir)
    val e = corpusEmb(spark, dir)
    val qs = e.join(
        spark.read.parquet(indexPath(spark, dir))
          .select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("centroid_id"), col("emb").as("q_emb"))
    val wA = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_cos").desc, col("c_id"))
    val cand = pqRecon(spark, dir)
      .join(broadcast(qs), Seq("centroid_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("q_emb"), col("vec_id").as("c_id"),
        cosR(col("q_emb"), col("recon")).as("approx_cos"))
      .withColumn("approx_rank", row_number().over(wA).cast("long"))
      .filter(col("approx_rank") <= 20)
    val wE = Window.partitionBy(col("q_id"))
      .orderBy(col("exact_cos").desc, col("c_id"))
    e.select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
      .join(broadcast(cand), Seq("c_id"))
      .select(col("q_id"), col("c_id"), col("approx_cos"), col("approx_rank"),
        cosR(col("q_emb"), col("c_emb")).as("exact_cos"))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= 5)
  }

  // ─── q67 chunk-grain retrieval serving (t21 ∘ q32) ───────────────────
  /** The RAG serving shape: queries probe the doc-level IVF index
    * (q32's nprobe=1 cell-restricted search, top-5 docs), and the
    * SERVING UNIT is the retrieved docs' t21 context-window chunks —
    * re-ranked per query at chunk grain (doc cosine, then document and
    * chunk position as the deterministic tiebreak), top 10 chunks per
    * query. This is the composition a retrieval pipeline actually
    * runs when its index is per-document but its prompt budget is
    * per-chunk.
    *
    * Scale: the probe inherits q32's plan (broadcast bounded query
    * set ⋈ centroid_id equi-join — only probed cells flow to
    * scoring, NO corpus-wide cosine), and chunking applies ONLY to
    * the retrieved docs: the bounded hit set broadcast-semi-joins the
    * documents scan BEFORE the chunk explode, so chunk text
    * materializes for ≤ queries×5 docs no matter the corpus size.
    * Windows partition by the bounded q_id set.
    */
  def chunkRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val hits = ivfSearch(spark, dir)
      .select(col("q_id"), col("c_id"), col("cosine_sim"),
        col("rank").as("doc_rank"))
    val hitDocs = hits.select(col("c_id").as("doc_id")).distinct()
    val chunks = TextAnalysis.chunkDocumentsOf(
      Tables.documents(spark, dir)
        .join(broadcast(hitDocs), Seq("doc_id"), "left_semi"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine_sim").desc, col("doc_id"), col("chunk_id"))
    hits.join(chunks, hits("c_id") === chunks("doc_id"))
      .select(col("q_id"), col("doc_id"), col("doc_rank"), col("cosine_sim"),
        col("chunk_id"), col("chunk_start"), col("n_chunk_tokens"),
        col("chunk_text"))
      .withColumn("chunk_rank", row_number().over(w).cast("long"))
      .filter(col("chunk_rank") <= 10)
  }

  // ─── q35 multi-probe IVF search + recall@5 report ────────────────────
  /** The recall/latency curve a production ANN deployment tunes: each
    * query probes its `nprobe` nearest coarse cells (nprobe ∈ {1,2,4},
    * ranked by cosine to the persisted codebook), takes the in-probe
    * top-5, and the report scores recall@5 against the exact brute-force
    * top-5 on the same bounded query set, alongside the average number
    * of scored candidates (the scan-cost axis of the trade).
    *
    * Scale shape: the corpus-sized side (index ⋈ embeddings) streams
    * through ONE broadcast-hash join against the ≤80-row (query ×
    * probed-cell) set — members of unprobed cells never reach scoring.
    * Probing all three nprobe levels reuses that single candidate pass:
    * a candidate found in cell-rank r belongs to every level ≥ r, so one
    * rank window per (level, query) and ONE aggregation produce the
    * whole curve — the corpus is not rescanned per level. The exact
    * baseline is one more streamed pass (it is the yardstick the report
    * exists to compare against; a production recall eval does exactly
    * this on a sampled query set). Counts aggregate as integers and the
    * ratios divide at the 3-row stage, so the report is bit-stable at
    * any parallelism.
    */
  def ivfSearchRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ensureIndex(spark, dir)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val member = spark.read.parquet(indexPath(spark, dir))
      .select(col("vec_id"), col("centroid_id"))
      .join(e, Seq("vec_id"))
    val codebook = spark.read.parquet(codebookPath(spark, dir))
    val qs = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))

    def cosR(a: Column, b: Column): Column =
      round(graft.plans.CosineSimilarity.cosineSim(a, b), 4)

    // per-query ranking of all 16 cells; rank 1 == the assigned cell
    val wCell = Window.partitionBy(col("q_id"))
      .orderBy(col("cell_cos").desc, col("centroid_id"))
    val probes = qs.crossJoin(broadcast(codebook))
      .select(col("q_id"), col("q_emb"), col("centroid_id"),
        cosR(col("q_emb"), col("c_emb")).as("cell_cos"))
      .withColumn("cell_rank", row_number().over(wCell))
      .filter(col("cell_rank") <= 4)
      .select(col("q_id"), col("q_emb"), col("centroid_id"), col("cell_rank"))
    val cand = member
      .select(col("vec_id").as("c_id"), col("centroid_id"), col("emb").as("c_emb"))
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), col("cell_rank"),
        cosR(col("q_emb"), col("c_emb")).as("cosine_sim"))
    // exact top-5 per query — the brute-force yardstick (d05's ranking)
    val exact = e.select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
      .join(broadcast(qs), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), cosR(col("q_emb"), col("c_emb")).as("ex_cos"))
      .withColumn("ex_rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("ex_cos").desc, col("c_id"))))
      .filter(col("ex_rk") <= 5)
      .select(col("q_id"), col("c_id"), lit(1L).as("is_exact"))
    val levels = Seq(1L, 2L, 4L).toDF("nprobe")
    val probed = cand.join(broadcast(levels), col("cell_rank") <= col("nprobe"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("nprobe"), col("q_id"))
          .orderBy(col("cosine_sim").desc, col("c_id"))))
      .join(broadcast(exact), Seq("q_id", "c_id"), "left")
    probed.groupBy(col("nprobe"))
      .agg(
        sum(when(col("rk") <= 5 && col("is_exact") === 1L, 1L).otherwise(0L))
          .as("total_hits"),
        count(lit(1)).as("n_candidates"))
      .select(col("nprobe"), col("total_hits"),
        // 20 queries × exact top-5 = denominator 100
        round(col("total_hits").cast("double") / 100.0, 4).as("recall_at5"),
        round(col("n_candidates").cast("double") / 20.0, 2).as("avg_candidates"))
  }

  // ─── q45 IVF index-health report ─────────────────────────────────────
  /** The per-cell health table an ANN operator reads before trusting an
    * index: cell sizes, mean and worst member-to-centroid cosine
    * (cluster tightness), each cell's corpus share, skew vs an even
    * spread, and the hot-cell flag (> 2× even share — the cells that
    * dominate probe latency and argue for a re-train or a split).
    *
    * Scale: pure aggregation over the PERSISTED assignment artifact
    * (build-if-missing, like q32/q35) — one map-side-combining groupBy
    * on centroid_id; the corpus-total and cell-count ride broadcast
    * 1-row frames. Determinism: the mean divides an exact DECIMAL sum
    * of the 4-dp-rounded cosines (a double sum's order varies with
    * partitioning).
    */
  def ivfCellStats(spark: SparkSession, dir: String): DataFrame = {
    ensureIndex(spark, dir)
    val a = spark.read.parquet(indexPath(spark, dir))
      .select(col("centroid_id"), col("cos_to_centroid"))
    val nVecs = a.agg(count(lit(1)).as("n_vecs"))
    val nCells = spark.read.parquet(codebookPath(spark, dir))
      .agg(count(lit(1)).as("n_cells"))
    a.groupBy(col("centroid_id"))
      .agg(
        count(lit(1)).as("cell_size"),
        (round(sum(col("cos_to_centroid").cast("decimal(7,4)")), 4).cast("double") /
          count(lit(1))).as("mean_cos"),
        min(col("cos_to_centroid")).as("worst_cos"))
      .crossJoin(broadcast(nVecs)).crossJoin(broadcast(nCells))
      .select(
        col("centroid_id"), col("cell_size"), col("mean_cos"), col("worst_cos"),
        (col("cell_size").cast("double") / col("n_vecs")).as("cell_share"),
        ((col("cell_size") * col("n_cells")).cast("double") / col("n_vecs"))
          .as("skew_vs_even"),
        (col("cell_size").cast("double") / col("n_vecs") >
          lit(2.0) / col("n_cells")).as("is_hot"))
  }

  // ─── q51 incremental IVF append (assign-on-arrival) ──────────────────
  /** Incremental ANN index maintenance — the d19/q47 shape for
    * embeddings: newly arrived vectors are assigned to the PUBLISHED
    * codebook (one broadcast E-step over the arrivals only — no
    * retrain, no standing-corpus rescan) and served alongside the
    * standing assignment, with cell sizes recomputed over the union.
    * This is how a production IVF deployment actually operates between
    * offline retrains (assign-on-arrival, retrain at a quiet hour);
    * the appended vectors' recall is bounded by how far the corpus has
    * drifted from the codebook — q45's health report is the signal to
    * retrain.
    *
    * Demo split: standing corpus = vec_id % 5 ≠ 4 (its codebook +
    * assignment publish iff missing under holdout-keyed paths — the
    * standing index a previous run would have left), arrivals = the
    * held-out fifth. DuckDB replays the whole flow (train on the
    * holdout, assign arrivals against the trained codebook), so the
    * oracle proves the incremental assignment exactly.
    */
  def ivfAppend(spark: SparkSession, dir: String): DataFrame = {
    val e = corpusEmb(spark, dir)
    val isNew = pmod(col("vec_id"), lit(5L)) === 4
    val ip = indexArtifact(spark, "ivf_index", dir, "holdout5")
    val cp = indexArtifact(spark, "ivf_codebook", dir, "holdout5")
    if (!Sinks.exists(spark, ip, cp)) {
      val (c2, a2) = ivfModel(e.filter(!isNew), defaultCells)
      a2.persist()
      try {
        Sinks.publish(c2, cp)
        // no cell_size column here: sizes are a property of the SERVED
        // union, recomputed below, not of the frozen standing artifact
        Sinks.publish(
          a2.select(col("vec_id"), col("centroid_id"),
            col("cos_r").as("cos_to_centroid")), ip)
      } finally a2.unpersist(false)
    }
    val standing = spark.read.parquet(ip)
    val book = spark.read.parquet(cp)
    val arrivals = assignTo(e.filter(isNew), book)
      .select(col("vec_id"), col("centroid_id"), col("cos_r").as("cos_to_centroid"))
    val union = standing.withColumn("is_new_vec", lit(false))
      .unionByName(arrivals.withColumn("is_new_vec", lit(true)))
    val sizes = union.groupBy(col("centroid_id")).agg(count(lit(1)).as("cell_size"))
    union.join(broadcast(sizes), Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"), col("cos_to_centroid"),
        col("cell_size"), col("is_new_vec"))
  }

  /** Growing-index embeddings ingest — one scheduler tick of the
    * q51 operating mode (Pipeline.dailyRun's vector side): the FIRST
    * arriving shard bootstraps the codebook (trains ivfModel on
    * itself — the production bootstrap-then-serve sequence), and every
    * later shard assigns to the PUBLISHED codebook in one broadcast
    * E-step, publishing its assignment partition under `shard=<id>`.
    * A retried tick overwrites only its own partition (deterministic
    * content, stage-swap publish). The served index is
    * [[vecStandingIndex]] — the union of all published partitions with
    * cell sizes recomputed at read.
    */
  def vecShardIngest(spark: SparkSession, dir: String, indexDir: String,
                     shardId: Int, nShards: Int): DataFrame = {
    require(nShards > 0 && shardId >= 0 && shardId < nShards,
      s"vector shard $shardId out of range for $nShards-way split")
    vecIngestCore(
      corpusEmb(spark, dir)
        .filter(pmod(col("vec_id"), lit(nShards.toLong)) === shardId),
      indexDir, shardId.toString)
  }

  /** Shard-frame core of [[vecShardIngest]]: bootstrap-or-assign an
    * arbitrary (vec_id, emb) frame under a string shard key — shared
    * by the batch scheduler's pmod split and the streaming twin's
    * `b<batchId>` keys (the ingestShardCore pattern for vectors).
    *
    * Crash-window + retry contract (PipelineSpec crash matrix): the
    * bootstrap publishes codebook THEN its shard assignment, and the
    * published assignment is assignTo(shard, published codebook) — the
    * SELF-CONSISTENT form, NOT the training run's final E-step (whose
    * reference codebook is one Lloyd step older; q51's offline build
    * keeps that training semantic at its own oracle-pinned path). The
    * self-consistent form is what makes every tick idempotent under
    * the scheduler's retry/backfill semantics: a retried or
    * crash-healed bootstrap tick finds the codebook published,
    * re-assigns against it, and republishes BIT-IDENTICAL content —
    * with the training E-step published instead, any re-run of the
    * bootstrap tick would silently rewrite the shard (the round-11
    * crash matrix caught exactly that).
    */
  private[graft] def vecIngestCore(shard: DataFrame, indexDir: String,
                                   shardKey: String): DataFrame = {
    val spark = shard.sparkSession
    val book = Sinks.ensure(spark, s"$indexDir/codebook")(
      ivfModel(shard, defaultCells)._1)
    val outPath = s"$indexDir/assign/shard=$shardKey"
    Sinks.publish(
      assignTo(shard, book).select(col("vec_id"), col("centroid_id"),
        col("cos_r").as("cos_to_centroid")), outPath)
    spark.read.parquet(outPath)
  }

  /** The served vector index after any number of ingest ticks: every
    * published shard assignment, cell sizes recomputed over the union
    * (sizes are a property of the SERVED set, not of any one tick).
    */
  def vecStandingIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val keys = Sinks.shardKeys(spark, s"$indexDir/assign")
    require(keys.nonEmpty, s"no vector shards published under $indexDir")
    val union = spark.read.parquet(keys.map(k => s"$indexDir/assign/shard=$k"): _*)
    val sizes = union.groupBy(col("centroid_id")).agg(count(lit(1)).as("cell_size"))
    union.join(broadcast(sizes), Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"), col("cos_to_centroid"),
        col("cell_size"))
  }

  // ─── q49/q50 IVF-PQ compression tier ─────────────────────────────────
  /** Product-quantization parameters: M subspaces × ks codes. A PQ code
    * is M small ints (here 4×4 bits) per vector instead of dims floats
    * — at 100 TB the raw float[] corpus is what stops fitting storage-
    * adjacent memory; IVF cells bound WHICH vectors a probe scans, PQ
    * bounds the BYTES PER VECTOR that scan touches (64 dims × 4 B →
    * 4 codes + cell id ≈ 40× smaller, plus one shared 4×16-row
    * sub-codebook). Search reconstructs candidates from codes
    * (centroid + per-subspace code vectors) and ranks on the
    * reconstruction — the asymmetric-distance scheme with the lookup
    * table inlined as a broadcast join.
    */
  private val pqSubspaces = 4
  // 16 codes (4-bit) per subspace is corpus-size-gated, not a design
  // ceiling: the k-means++-style seeding needs ≥ codes distinct
  // residual subvectors PER CELL to avoid degenerate (empty/duplicate)
  // codewords, and the sf0.1 holdout cells hold hundreds of vectors.
  // The 8-bit production width itself is NOT gated on test data any
  // more: [[pqBookOf]] is width-parameterized and PqWideSpec drives it
  // at ks=256 on a generated 4k-vector corpus (codebooks populate,
  // error strictly tightens vs 16 codes). Raising this constant swaps
  // the published tier to 8-bit; the q49/q50 oracles extend by
  // swapping the same constant.
  private val pqCodesPerSub = 16

  // Squared L2 lives as the dot-product identity `dot(a,a) −
  // 2·dot(a,b) + dot(b,b)` — NOT elementwise (a-b)² folds: both
  // engines must evaluate the SAME IEEE expression for the 4-dp
  // rounding to agree, and three index-ordered folds are what any
  // engine replays. The expression itself now lives inside
  // plans.NearestInGroup; the oracle SQL spells it out with
  // list_dot_product.

  /** Per-vector residual subvectors (vec_id, m, rm): residual vs the
    * PUBLISHED cell centroid (the c2 codebook — the mean of the cell's
    * members, the best same-cell reference), split into M equal slices.
    */
  private def pqResidualSubs(e: DataFrame, assign: DataFrame,
                             codebook: DataFrame): DataFrame = {
    val r = e.join(assign, Seq("vec_id"))
      .join(broadcast(codebook), Seq("centroid_id"))
      .select(col("vec_id"),
        zip_with(col("emb"), col("c_emb"), (a, b) => a - b).as("r"))
    val subLen = ceil(size(col("r")) / pqSubspaces).cast("int")
    r.select(col("vec_id"),
        explode(sequence(lit(0), lit(pqSubspaces - 1))).as("m"), col("r"))
      .select(col("vec_id"), col("m").cast("long").as("m"),
        slice(col("r"), (col("m") * subLen + 1).cast("int"), subLen).as("rm"))
  }

  /** Collect a (group, id, emb) codebook frame into the per-group
    * reference shape [[graft.plans.NearestInGroup]] takes — a bounded
    * MODEL materialization (the subspace codebooks), the same class of
    * driver-sized object as [[assignTo]]'s flat codebook. Returns the
    * grouped entries plus the uniform dim.
    */
  private def collectGroupedCodebook(
      book: DataFrame, groupCol: String, idCol: String, embCol: String)
      : (Seq[(Long, (Array[Long], Array[Double]))], Int) = {
    val rows = book.select(
      col(groupCol).cast("long"), col(idCol).cast("long"), col(embCol)).collect()
    require(rows.nonEmpty, s"empty codebook ($groupCol/$idCol)")
    val entries = rows.map { r =>
      require(!r.isNullAt(2),
        s"null codeword ($groupCol=${r.getLong(0)}, $idCol=${r.getLong(1)})")
      (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray)
    }
    val dim = entries.head._3.length
    require(entries.forall(_._3.length == dim),
      s"ragged codebook (expected uniform dim $dim)")
    val grouped = entries.groupBy(_._1).toSeq.map { case (g, es) =>
      val s = es.sortBy(_._2)
      g -> (s.map(_._2).toArray, s.flatMap(_._3).toArray)
    }
    (grouped, dim)
  }

  /** Nearest code per (vector, subspace): min (rounded d2, code) —
    * argmin of the same dot-product-identity d2 the oracle replays,
    * ties to the smallest code. Physically a pure MAP over the subs
    * frame via [[graft.plans.NearestInGroup]] keyed by subspace `m`
    * (the 4×16-codeword book rides along as reference objects) — the
    * former equi-join → groupBy(vec_id, m) → min(struct) shape planned
    * a SortAggregate over n·codes rows carrying the residual arrays,
    * the physical failure mode the flat E-step hit at the sf10 scaling
    * point. NearestInGroupSpec pins bit-equality against the old plan.
    */
  private[graft] def pqAssignTo(subs: DataFrame, book: DataFrame): DataFrame = {
    val (grouped, dim) = collectGroupedCodebook(book, "m", "code", "code_emb")
    val nearest = graft.plans.NearestInGroup.nearestInGroup(
      col("m"), col("rm"), grouped, dim)
    subs.select(col("vec_id"), col("m"), col("rm"), nearest.as("nb"))
      .filter(col("nb").isNotNull) // subspace absent from the book: the row the old inner join dropped
      .select(col("vec_id"), col("m"), col("rm"), col("nb.best_id").as("code"))
  }

  // one M-step: decimal-exact per-(subspace, code, dim) means; codes
  // that captured no members keep their previous vector
  private def pqMeansFrom(assigned: DataFrame, book: DataFrame): DataFrame = {
    val means = assigned
      .select(col("m"), col("code"), posexplode(col("rm")).as(Seq("pos", "v")))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg((sum(col("v").cast("decimal(27,10)")).cast("double") / count(lit(1))).as("mu"))
      .groupBy(col("m"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mu")))),
        s => s.getField("mu")).as("new_emb"))
    book.join(means, Seq("m", "code"), "left")
      .select(col("m"), col("code"),
        coalesce(col("new_emb"), col("code_emb")).as("code_emb"))
  }

  /** Hash-spread seeds per subspace — the seedCodebook rule applied to
    * residual subvectors: bucket j = vec_id mod ks, seed = the bucket
    * member with the smallest (md5(vec_id), vec_id).
    */
  private def pqSeeds(subs: DataFrame, ks: Int): DataFrame =
    subs.groupBy(col("m"),
        pmod(col("vec_id"), lit(ks.toLong)).as("code"))
      .agg(min(struct(
        md5(col("vec_id").cast("string")).as("h"),
        col("vec_id").as("v"),
        col("rm").as("e"))).as("s"))
      .select(col("m"), col("code"), col("s.e").as("code_emb"))

  /** Sub-codebooks of width `ks` over any residual-subvector frame
    * (vec_id, m, rm): seed → E → M. [[pqBuild]] runs it at
    * [[pqCodesPerSub]]; the trainer is width-blind, and PqWideSpec
    * drives it at ks=256 on a generated corpus large enough to
    * populate every codeword (256 codes would be degenerate in the
    * sf0.1 holdout cells).
    */
  private[graft] def pqBookOf(subs: DataFrame, ks: Int): DataFrame = {
    val s0 = pqSeeds(subs, ks)
    pqMeansFrom(pqAssignTo(subs, s0), s0)
  }

  /** PQ tier paths, keyed by source fingerprint AND the active index's
    * coarse k. The k matters: the tier quantizes residuals AGAINST the
    * published codebook, so an index rebuilt at a different k (the q48
    * adaptive path) must invalidate the codes — source+k pins it
    * completely, because a same-source same-k rebuild is deterministic
    * and reproduces byte-identical artifacts. Callers must ensureIndex
    * first (the k is read from the published codebook).
    */
  private def pqPaths(spark: SparkSession, dir: String): (String, String) = {
    val k = spark.read.parquet(codebookPath(spark, dir)).count()
    (indexArtifact(spark, "pq_codebook", dir, s"v1pq_k${k}_"),
      indexArtifact(spark, "pq_codes", dir, s"v1pq_k${k}_"))
  }

  /** Build + publish the PQ tier (sub-codebooks and per-vector codes)
    * over the standing IVF index — seed → E → M → final E, the
    * ivfModel shape on residual subvectors, every step DECIMAL-exact
    * or 4-dp-rounded so DuckDB replays the identical codes.
    */
  def pqBuild(spark: SparkSession, dir: String): DataFrame = {
    ensureIndex(spark, dir)
    val (bookPath, codesPath) = pqPaths(spark, dir)
    val assign = spark.read.parquet(indexPath(spark, dir))
      .select(col("vec_id"), col("centroid_id"))
    val cb = spark.read.parquet(codebookPath(spark, dir))
    val subs = pqResidualSubs(corpusEmb(spark, dir), assign, cb).persist()
    try {
      Sinks.publish(pqBookOf(subs, pqCodesPerSub), bookPath)
      val book = spark.read.parquet(bookPath)
      val codes = pqAssignTo(subs, book)
        .select(col("vec_id"), col("m"), col("code"))
      Sinks.publish(codes, codesPath)
      spark.read.parquet(codesPath)
    } finally subs.unpersist(false)
  }

  private def ensurePq(spark: SparkSession, dir: String): Unit = {
    ensureIndex(spark, dir)
    val (bookPath, codesPath) = pqPaths(spark, dir)
    if (!Sinks.exists(spark, bookPath, codesPath)) pqBuild(spark, dir)
  }

  /** Candidate reconstructions from PQ codes: cell centroid + the M
    * code vectors concatenated in subspace order. The scale payoff:
    * this frame derives from the CODES table (4 small ints/vector) and
    * two broadcast codebooks — the float corpus is never read at
    * search time.
    */
  private def pqRecon(spark: SparkSession, dir: String): DataFrame = {
    val (bookPath, codesPath) = pqPaths(spark, dir)
    val b = spark.read.parquet(bookPath)
    val assign = spark.read.parquet(indexPath(spark, dir))
      .select(col("vec_id"), col("centroid_id"))
    val cb = spark.read.parquet(codebookPath(spark, dir))
    spark.read.parquet(codesPath)
      .join(broadcast(b), Seq("m", "code"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("m"), col("code_emb")))),
        s => s.getField("code_emb"))).as("cat"))
      .join(assign, Seq("vec_id"))
      .join(broadcast(cb), Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"),
        zip_with(col("c_emb"), col("cat"), (a, b) => a + b).as("recon"))
  }

  /** q49: ANN search over the COMPRESSED tier — each query (its true,
    * uncompressed embedding) probes its own coarse cell and ranks the
    * cell's members by cosine to their PQ reconstructions (asymmetric
    * distance). Same plan shape as q32; the member side is codes, not
    * floats. Builds the tier iff missing (the q32 contract).
    */
  def pqSearch(spark: SparkSession, dir: String): DataFrame = {
    ensurePq(spark, dir)
    val e = corpusEmb(spark, dir)
    val qs = e.join(
        spark.read.parquet(indexPath(spark, dir))
          .select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("centroid_id"), col("emb").as("q_emb"))
    val scored = pqRecon(spark, dir)
      .join(broadcast(qs), Seq("centroid_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        cosR(col("q_emb"), col("recon")).as("approx_cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_cos").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
  }

  /** q50: the compression-tier recall report, in the q35 shape — per
    * nprobe ∈ {1,2,4}, recall@5 of the PQ-reconstruction ranking
    * against the exact brute-force top-5, plus the scan-cost axis.
    * What q35 measures for the coarse quantizer (cells probed), this
    * measures for the fine one (bytes per candidate): together they
    * are the two knobs a production IVF-PQ deployment tunes.
    */
  def pqRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ensurePq(spark, dir)
    val e = corpusEmb(spark, dir)
    val codebook = spark.read.parquet(codebookPath(spark, dir))
    val qs = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val wCell = Window.partitionBy(col("q_id"))
      .orderBy(col("cell_cos").desc, col("centroid_id"))
    val probes = qs.crossJoin(broadcast(codebook))
      .select(col("q_id"), col("q_emb"), col("centroid_id"),
        cosR(col("q_emb"), col("c_emb")).as("cell_cos"))
      .withColumn("cell_rank", row_number().over(wCell))
      .filter(col("cell_rank") <= 4)
      .select(col("q_id"), col("q_emb"), col("centroid_id"), col("cell_rank"))
    val cand = pqRecon(spark, dir)
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("c_id"), col("cell_rank"),
        cosR(col("q_emb"), col("recon")).as("approx_cos"))
    val exact = e.select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
      .join(broadcast(qs), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), cosR(col("q_emb"), col("c_emb")).as("ex_cos"))
      .withColumn("ex_rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("ex_cos").desc, col("c_id"))))
      .filter(col("ex_rk") <= 5)
      .select(col("q_id"), col("c_id"), lit(1L).as("is_exact"))
    val levels = Seq(1L, 2L, 4L).toDF("nprobe")
    val probed = cand.join(broadcast(levels), col("cell_rank") <= col("nprobe"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("nprobe"), col("q_id"))
          .orderBy(col("approx_cos").desc, col("c_id"))))
      .join(broadcast(exact), Seq("q_id", "c_id"), "left")
    probed.groupBy(col("nprobe"))
      .agg(
        sum(when(col("rk") <= 5 && col("is_exact") === 1L, 1L).otherwise(0L))
          .as("total_hits"),
        count(lit(1)).as("n_candidates"))
      .select(col("nprobe"), col("total_hits"),
        round(col("total_hits").cast("double") / 100.0, 4).as("recall_at5"),
        round(col("n_candidates").cast("double") / 20.0, 2).as("avg_candidates"))
  }

  // ─── d22 semantic dedup (SemDeDup over IVF cells) ────────────────────
  /** Embedding-space semantic dedup — the SemDeDup recipe (Abbas et al.
    * 2023, arXiv:2303.09540): near-duplicate MEANING rather than
    * near-duplicate TOKENS (translated copies, paraphrases, templated
    * rewrites — the slice the Jaccard (d07) and SimHash (d20) routes
    * structurally miss). Pairs are compared ONLY within their IVF cell
    * — the √n-ADAPTIVE [[semanticIndex]], NOT the search family's fixed
    * k=16 artifact: the coarse quantizer is the blocking key, so
    * candidate generation is an equi-join on centroid_id — never
    * all-pairs over the corpus — and the cell GRANULARITY must grow
    * with the corpus or the within-cell pair term quietly goes
    * quadratic (this operator rode the fixed-16 index through round 8;
    * the round-9 4-point scaling record caught it at exponent 1.12 —
    * 9× the time on 3× the vectors — and the adaptive re-block is the
    * fix, measured back under it). Within
    * each above-τ pair the member EARLIER in the (cos_to_centroid,
    * vec_id) order — i.e. FARTHER from its centroid — is the keeper
    * (SemDeDup's diversity-preserving choice: low centroid-similarity
    * members carry the cell's spread), so every removed vector has a
    * kept justifier strictly earlier in that order — d20's keep-min
    * argument with redundancy as the order instead of the id.
    *
    * Output: one row per REMOVED vector — its cell, its centroid
    * cosine, how many earlier members justify the removal, the
    * strongest pair cosine, and the minimal justifier (kept_vec).
    *
    * Scale: pair count is Σ|cell|²/2 — bounded because [[semanticIndex]]
    * builds with k = ⌊√n⌋ cells, which caps expected cell size at √n
    * and total cost (build 2·n·k + pairs n²/k) at Θ(n^1.5) — the
    * flat-IVF optimum and the SemDeDup cluster-then-pair cost model
    * (the paper runs 50k clusters over 1B examples; n log n needs a
    * hierarchical coarse quantizer — backlog).
    * The pair join is an equi-join on centroid_id, the fused codegen
    * cosine scores candidates only, and the final rollup is one
    * map-side-combining groupBy on the removed id. τ is 0.40
    * on this synthetic corpus (its within-cell cosine mass tops out
    * near 0.5); a real embedding corpus tunes τ at its near-dup knee
    * (the paper uses ~0.95+ on contrastive sentence embeddings).
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val m = semanticIndex(spark, dir)
      .select(col("vec_id"), col("centroid_id"), col("cos_to_centroid"))
      .join(Tables.embeddings(spark, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("emb")), Seq("vec_id"))
    val keep = m.select(col("centroid_id"), col("vec_id").as("k_id"),
      col("cos_to_centroid").as("k_cos"), col("emb").as("k_emb"))
    val rem = m.select(col("centroid_id"), col("vec_id").as("r_id"),
      col("cos_to_centroid").as("r_cos"), col("emb").as("r_emb"))
    // keeper strictly precedes the removed member in (cos_to_centroid,
    // vec_id) — the 4-dp rounded cosine makes the order engine-stable
    val precedes = col("k_cos") < col("r_cos") ||
      (col("k_cos") === col("r_cos") && col("k_id") < col("r_id"))
    keep.join(rem, Seq("centroid_id"))
      .filter(precedes)
      .select(col("centroid_id"), col("r_id"), col("r_cos"),
        col("k_id"), col("k_cos"),
        cosR(col("k_emb"), col("r_emb")).as("pair_cos"))
      .filter(col("pair_cos") >= semanticTau)
      .groupBy(col("r_id").as("vec_id"), col("centroid_id"),
        col("r_cos").as("cos_to_centroid"))
      .agg(
        count(lit(1)).as("n_dup_partners"),
        max(col("pair_cos")).as("max_pair_cos"),
        min(struct(col("k_cos"), col("k_id"))).as("kmin"))
      .select(col("vec_id"), col("centroid_id"), col("cos_to_centroid"),
        col("n_dup_partners"), col("max_pair_cos"),
        col("kmin.k_id").as("kept_vec"))
  }

  /** d22's and d23's pair-cosine knee τ. */
  private val semanticTau = 0.40

  // ─── d23 semantic decontamination ────────────────────────────────────
  /** Embedding-space benchmark decontamination — the third rung of the
    * contamination ladder: d13/d18 catch verbatim 13-gram overlap, d08
    * catches shingle-level near-dups, and this catches PARAPHRASED
    * benchmark items (reworded eval questions, translated answers)
    * that share no tokens with the original. Each benchmark vector
    * probes its own cell of the √n-adaptive [[semanticIndex]]
    * (nprobe=1 — the q32 search shape, on d22's blocking granularity:
    * a fixed cell count would make every probe scan a cell that grows
    * linearly with the corpus) and
    * counts corpus members above the d22 similarity knee; one
    * zero-safe row per benchmark vector, max_cos NULL when its cell
    * holds no corpus member (exactly d08's reporting contract).
    *
    * Demo boundary: benchmark = vec_id % 10 == 0 (the d08 trick — the
    * crossing filter commutes with the pair measure, so building the
    * index over the union changes nothing). Scale: benchmark sets are
    * small by nature (thousands of eval items vs a 100 TB corpus), so
    * the probe side broadcasts; the corpus-sized side streams through
    * ONE equi-join on centroid_id and only probed cells reach the
    * fused cosine. A miss is bounded by coarse-cell recall — q35's
    * multi-probe curve says what nprobe buys if the screen must
    * tighten.
    */
  def semanticContamination(spark: SparkSession, dir: String): DataFrame = {
    val m = semanticIndex(spark, dir)
      .select(col("vec_id"), col("centroid_id"))
      .join(Tables.embeddings(spark, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("emb")), Seq("vec_id"))
    val isBench = pmod(col("vec_id"), lit(10L)) === 0
    val bench = m.filter(isBench)
      .select(col("vec_id").as("bench_vec_id"), col("centroid_id"),
        col("emb").as("b_emb"))
    val corpus = m.filter(!isBench)
      .select(col("centroid_id"), col("emb").as("c_emb"))
    // inner probe join with the bench side broadcast (a left-outer can't
    // broadcast its preserved side); the zero-safe rows come from the
    // bounded join-back below, where the aggregated side broadcasts
    val perBench = corpus.join(broadcast(bench), Seq("centroid_id"))
      .select(col("bench_vec_id"), col("centroid_id"),
        cosR(col("b_emb"), col("c_emb")).as("pair_cos"))
      .groupBy(col("bench_vec_id"), col("centroid_id"))
      .agg(
        count(lit(1)).as("n_candidates"),
        sum(when(col("pair_cos") >= semanticTau, 1L).otherwise(0L)).as("n_flagged"),
        max(col("pair_cos")).as("max_cos"))
    bench.select(col("bench_vec_id"), col("centroid_id"))
      .join(broadcast(perBench), Seq("bench_vec_id", "centroid_id"), "left")
      .select(col("bench_vec_id"), col("centroid_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        col("max_cos"),
        (coalesce(col("n_flagged"), lit(0L)) > 0L).as("is_contaminated"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d05_embedding_knn" -> embeddingKnn,
    "d22_semantic_dedup" -> ((s: SparkSession, d: String) => semanticDedup(s, d)),
    "d23_semantic_contamination" ->
      ((s: SparkSession, d: String) => semanticContamination(s, d)),
    "d06_embedding_lsh" -> embeddingLsh,
    "d11_embedding_neardup" -> embeddingNearDup,
    "q24_ivf_ann" -> ivfBuild,
    "q32_ivf_search" -> ivfSearch,
    "q67_chunk_retrieval" -> chunkRetrieval,
    "q68_pq_rerank" -> pqRerank,
    "q35_ivf_recall" -> ivfSearchRecall,
    "q45_ivf_cell_stats" -> ivfCellStats,
    "q48_ivf_adaptive" -> ivfAssignAdaptive,
    "q49_ivf_pq" -> pqSearch,
    "q50_pq_recall" -> pqRecall,
    "q51_ivf_append" -> ivfAppend)

  /** Shared DuckDB replay of the PQ tier: the q24/q35 two-E-step IVF
    * chain (e … fin, c2), then residuals → subspace slices → hash-
    * spread seeds → one Lloyd step (DECIMAL means) → final code
    * assignment → reconstructions. q49/q50 append their own search /
    * report tail over `recon` (+ `fin`, `c2`, `e`).
    */
  private def pqOracle(tail: String): String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |c0 AS (
      |  SELECT vec_id % 16 AS centroid_id, emb AS c_emb FROM e
      |  QUALIFY row_number() OVER (PARTITION BY vec_id % 16
      |            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) = 1),
      |a1 AS (
      |  SELECT vec_id, emb, centroid_id,
      |         round(list_dot_product(emb, c_emb)
      |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_r
      |  FROM e CROSS JOIN c0
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, centroid_id) = 1),
      |x1 AS (SELECT centroid_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM a1),
      |m1 AS (SELECT centroid_id, pos,
      |              CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m
      |       FROM x1 GROUP BY 1, 2),
      |c1m AS (SELECT centroid_id, list(m ORDER BY pos) AS c_emb FROM m1 GROUP BY 1),
      |c1 AS (SELECT c0.centroid_id, coalesce(c1m.c_emb, c0.c_emb) AS c_emb
      |       FROM c0 LEFT JOIN c1m USING (centroid_id)),
      |fin AS (
      |  SELECT vec_id, emb, centroid_id,
      |         round(list_dot_product(emb, c_emb)
      |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_r
      |  FROM e CROSS JOIN c1
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, centroid_id) = 1),
      |x2 AS (SELECT centroid_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM fin),
      |m2 AS (SELECT centroid_id, pos,
      |              CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m
      |       FROM x2 GROUP BY 1, 2),
      |c2m AS (SELECT centroid_id, list(m ORDER BY pos) AS c_emb FROM m2 GROUP BY 1),
      |c2 AS (SELECT c1.centroid_id, coalesce(c2m.c_emb, c1.c_emb) AS c_emb
      |       FROM c1 LEFT JOIN c2m USING (centroid_id)),
      |resid AS (
      |  SELECT f.vec_id, f.centroid_id,
      |         list_transform(range(1, len(f.emb) + 1), i -> f.emb[i] - c2.c_emb[i]) AS r
      |  FROM fin f JOIN c2 ON f.centroid_id = c2.centroid_id),
      |ms AS (SELECT unnest(range(0, 4)) AS m),
      |subs AS (
      |  SELECT vec_id, m,
      |         r[(m * CAST(ceil(len(r) / 4.0) AS BIGINT) + 1):((m + 1) * CAST(ceil(len(r) / 4.0) AS BIGINT))] AS rm
      |  FROM resid CROSS JOIN ms),
      |s0 AS (
      |  SELECT m, vec_id % 16 AS code, rm AS code_emb FROM subs
      |  QUALIFY row_number() OVER (PARTITION BY m, vec_id % 16
      |            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) = 1),
      |pa1 AS (
      |  SELECT vec_id, m, rm, code FROM subs JOIN s0 USING (m)
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY
      |    round(list_dot_product(rm, rm) - 2.0 * list_dot_product(rm, code_emb)
      |          + list_dot_product(code_emb, code_emb), 4), code) = 1),
      |px AS (SELECT m, code, unnest(range(1, len(rm) + 1)) AS pos, unnest(rm) AS v FROM pa1),
      |pm AS (SELECT m, code, pos,
      |              CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS mu
      |       FROM px GROUP BY 1, 2, 3),
      |bm AS (SELECT m, code, list(mu ORDER BY pos) AS new_emb FROM pm GROUP BY 1, 2),
      |b AS (SELECT s0.m, s0.code, coalesce(bm.new_emb, s0.code_emb) AS code_emb
      |      FROM s0 LEFT JOIN bm USING (m, code)),
      |pcodes AS (
      |  SELECT vec_id, m, code FROM subs JOIN b USING (m)
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY
      |    round(list_dot_product(rm, rm) - 2.0 * list_dot_product(rm, code_emb)
      |          + list_dot_product(code_emb, code_emb), 4), code) = 1),
      |cat AS (SELECT vec_id, flatten(list(code_emb ORDER BY m)) AS cat
      |        FROM pcodes JOIN b USING (m, code) GROUP BY vec_id),
      |recon AS (
      |  SELECT c.vec_id, f.centroid_id,
      |         list_transform(range(1, len(c2.c_emb) + 1), i -> c2.c_emb[i] + c.cat[i]) AS recon
      |  FROM cat c JOIN fin f USING (vec_id) JOIN c2 ON f.centroid_id = c2.centroid_id),
      |""".stripMargin + tail

  /** q32's oracle, split into a reusable CTE prefix (the deterministic
    * 2-iteration k-means replay through the per-query cell-restricted
    * scoring) and its ranked tail — q67 composes the same prefix.
    */
  private val ivfSearchOracleCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |c0 AS (
      |  SELECT vec_id % 16 AS centroid_id, emb AS c_emb FROM e
      |  QUALIFY row_number() OVER (PARTITION BY vec_id % 16
      |            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) = 1),
      |a1 AS (
      |  SELECT vec_id, emb, centroid_id,
      |         round(list_dot_product(emb, c_emb)
      |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_r
      |  FROM e CROSS JOIN c0
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, centroid_id) = 1),
      |x1 AS (SELECT centroid_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM a1),
      |m1 AS (SELECT centroid_id, pos,
      |              CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m
      |       FROM x1 GROUP BY 1, 2),
      |c1m AS (SELECT centroid_id, list(m ORDER BY pos) AS c_emb FROM m1 GROUP BY 1),
      |c1 AS (SELECT c0.centroid_id, coalesce(c1m.c_emb, c0.c_emb) AS c_emb
      |       FROM c0 LEFT JOIN c1m USING (centroid_id)),
      |fin AS (
      |  SELECT vec_id, centroid_id, emb,
      |         round(list_dot_product(emb, c_emb)
      |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_r
      |  FROM e CROSS JOIN c1
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, centroid_id) = 1),
      |q AS (SELECT vec_id AS q_id, centroid_id, emb AS q_emb FROM fin WHERE vec_id < 20),
      |scored AS (
      |  SELECT q.q_id, f.vec_id AS c_id,
      |         round(list_dot_product(q.q_emb, f.emb)
      |               / (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(f.emb, f.emb))), 4) AS cosine_sim
      |  FROM fin f JOIN q USING (centroid_id) WHERE f.vec_id <> q.q_id)""".stripMargin

  private val ivfSearchOracleTail: String =
    """SELECT q_id, c_id, cosine_sim,
      |       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, c_id) AS BIGINT) AS rank
      |FROM scored QUALIFY rank <= 5""".stripMargin

  /** q67 oracle: the q32 probe feeding t21's chunk derivation of the
    * retrieved docs only, re-ranked at chunk grain.
    */
  private def chunkRetrievalSql: String = {
    val cl = graft.operators.TextAnalysis.ChunkLen
    val cs = graft.operators.TextAnalysis.ChunkStride
    s"""WITH $ivfSearchOracleCtes,
       |hits AS (
       |  SELECT q_id, c_id, cosine_sim,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, c_id) AS BIGINT) AS doc_rank
       |  FROM scored QUALIFY doc_rank <= 5),
       |tok AS (
       |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
       |  WHERE doc_id IN (SELECT c_id FROM hits)),
       |nn AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n FROM tok WHERE len(t) >= 1),
       |ch AS (SELECT doc_id, t, n,
       |         CAST(unnest(range(0, (greatest(n - $cl, 0) + ${cs - 1}) // $cs + 1)) AS BIGINT) AS chunk_id
       |       FROM nn),
       |st AS (SELECT doc_id, chunk_id, chunk_id * $cs + 1 AS chunk_start, t, n FROM ch),
       |ck AS (
       |  SELECT doc_id, chunk_id, chunk_start,
       |         least(chunk_start + ${cl - 1}, n) - chunk_start + 1 AS n_chunk_tokens,
       |         array_to_string(t[CAST(chunk_start AS INT):CAST(least(chunk_start + ${cl - 1}, n) AS INT)], ' ') AS chunk_text
       |  FROM st),
       |j AS (
       |  SELECT h.q_id, h.c_id AS doc_id, h.doc_rank, h.cosine_sim,
       |         ck.chunk_id, ck.chunk_start, ck.n_chunk_tokens, ck.chunk_text
       |  FROM hits h JOIN ck ON ck.doc_id = h.c_id)
       |SELECT q_id, doc_id, doc_rank, cosine_sim, chunk_id, chunk_start,
       |       n_chunk_tokens, chunk_text,
       |       CAST(row_number() OVER (PARTITION BY q_id
       |              ORDER BY cosine_sim DESC, doc_id, chunk_id) AS BIGINT) AS chunk_rank
       |FROM j QUALIFY chunk_rank <= 10""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "d22_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |kv AS (SELECT greatest(1, least(4096, CAST(floor(sqrt(count(*))) AS BIGINT))) AS k FROM e),
        |c0 AS (
        |  SELECT vec_id % kv.k AS centroid_id, emb AS c_emb FROM e CROSS JOIN kv
        |  QUALIFY row_number() OVER (PARTITION BY vec_id % kv.k
        |            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) = 1),
        |a1 AS (
        |  SELECT vec_id, emb, centroid_id,
        |         round(list_dot_product(emb, c_emb)
        |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_r
        |  FROM e CROSS JOIN c0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, centroid_id) = 1),
        |x1 AS (SELECT centroid_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM a1),
        |m1 AS (SELECT centroid_id, pos,
        |              CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m
        |       FROM x1 GROUP BY 1, 2),
        |c1m AS (SELECT centroid_id, list(m ORDER BY pos) AS c_emb FROM m1 GROUP BY 1),
        |c1 AS (SELECT c0.centroid_id, coalesce(c1m.c_emb, c0.c_emb) AS c_emb
        |       FROM c0 LEFT JOIN c1m USING (centroid_id)),
        |fin AS (
        |  SELECT vec_id, emb, centroid_id,
        |         round(list_dot_product(emb, c_emb)
        |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_to_centroid
        |  FROM e CROSS JOIN c1
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_to_centroid DESC, centroid_id) = 1),
        |p AS (
        |  SELECT b.vec_id AS vec_id, b.centroid_id AS centroid_id,
        |         b.cos_to_centroid AS cos_to_centroid,
        |         a.vec_id AS k_id, a.cos_to_centroid AS k_cos,
        |         round(list_dot_product(a.emb, b.emb)
        |               / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 4) AS pair_cos
        |  FROM fin a JOIN fin b ON a.centroid_id = b.centroid_id
        |   AND (a.cos_to_centroid < b.cos_to_centroid OR
        |        (a.cos_to_centroid = b.cos_to_centroid AND a.vec_id < b.vec_id))),
        |q AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY k_cos, k_id) AS rn
        |  FROM p WHERE pair_cos >= 0.40)
        |SELECT vec_id, centroid_id, cos_to_centroid,
        |       CAST(count(*) AS BIGINT) AS n_dup_partners,
        |       max(pair_cos) AS max_pair_cos,
        |       max(CASE WHEN rn = 1 THEN k_id END) AS kept_vec
        |FROM q GROUP BY 1, 2, 3""".stripMargin,
    "d23_semantic_contamination" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |kv AS (SELECT greatest(1, least(4096, CAST(floor(sqrt(count(*))) AS BIGINT))) AS k FROM e),
        |c0 AS (
        |  SELECT vec_id % kv.k AS centroid_id, emb AS c_emb FROM e CROSS JOIN kv
        |  QUALIFY row_number() OVER (PARTITION BY vec_id % kv.k
        |            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) = 1),
        |a1 AS (
        |  SELECT vec_id, emb, centroid_id,
        |         round(list_dot_product(emb, c_emb)
        |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_r
        |  FROM e CROSS JOIN c0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, centroid_id) = 1),
        |x1 AS (SELECT centroid_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM a1),
        |m1 AS (SELECT centroid_id, pos,
        |              CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m
        |       FROM x1 GROUP BY 1, 2),
        |c1m AS (SELECT centroid_id, list(m ORDER BY pos) AS c_emb FROM m1 GROUP BY 1),
        |c1 AS (SELECT c0.centroid_id, coalesce(c1m.c_emb, c0.c_emb) AS c_emb
        |       FROM c0 LEFT JOIN c1m USING (centroid_id)),
        |fin AS (
        |  SELECT vec_id, emb, centroid_id,
        |         round(list_dot_product(emb, c_emb)
        |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_r
        |  FROM e CROSS JOIN c1
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, centroid_id) = 1),
        |p AS (
        |  SELECT b.vec_id AS bench_vec_id, b.centroid_id AS centroid_id,
        |         c.vec_id AS c_id,
        |         round(list_dot_product(b.emb, c.emb)
        |               / (sqrt(list_dot_product(b.emb, b.emb)) * sqrt(list_dot_product(c.emb, c.emb))), 4) AS pair_cos
        |  FROM (SELECT * FROM fin WHERE vec_id % 10 = 0) b
        |  LEFT JOIN (SELECT * FROM fin WHERE vec_id % 10 <> 0) c
        |    ON b.centroid_id = c.centroid_id)
        |SELECT bench_vec_id, centroid_id,
        |       CAST(count(c_id) AS BIGINT) AS n_candidates,
        |       CAST(coalesce(sum(CASE WHEN pair_cos >= 0.40 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_flagged,
        |       max(pair_cos) AS max_cos,
        |       coalesce(sum(CASE WHEN pair_cos >= 0.40 THEN 1 ELSE 0 END), 0) > 0 AS is_contaminated
        |FROM p GROUP BY 1, 2""".stripMargin,
    "q45_ivf_cell_stats" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c0 AS (
        |  SELECT vec_id % 16 AS centroid_id, emb AS c_emb FROM e
        |  QUALIFY row_number() OVER (PARTITION BY vec_id % 16
        |            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) = 1),
        |a1 AS (
        |  SELECT vec_id, emb, centroid_id,
        |         round(list_dot_product(emb, c_emb)
        |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_r
        |  FROM e CROSS JOIN c0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, centroid_id) = 1),
        |x1 AS (SELECT centroid_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM a1),
        |m1 AS (SELECT centroid_id, pos,
        |              CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m
        |       FROM x1 GROUP BY 1, 2),
        |c1m AS (SELECT centroid_id, list(m ORDER BY pos) AS c_emb FROM m1 GROUP BY 1),
        |c1 AS (SELECT c0.centroid_id, coalesce(c1m.c_emb, c0.c_emb) AS c_emb
        |       FROM c0 LEFT JOIN c1m USING (centroid_id)),
        |fin AS (
        |  SELECT vec_id, centroid_id,
        |         round(list_dot_product(emb, c_emb)
        |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_to_centroid
        |  FROM e CROSS JOIN c1
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_to_centroid DESC, centroid_id) = 1),
        |cells AS (
        |  SELECT centroid_id,
        |         CAST(count(*) AS BIGINT) AS cell_size,
        |         CAST(round(sum(CAST(cos_to_centroid AS DECIMAL(7,4))), 4) AS DOUBLE)
        |           / count(*) AS mean_cos,
        |         min(cos_to_centroid) AS worst_cos
        |  FROM fin GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM fin),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cells FROM c1)
        |SELECT centroid_id, cell_size, mean_cos, worst_cos,
        |       CAST(cell_size AS DOUBLE) / n_vecs AS cell_share,
        |       CAST(cell_size * n_cells AS DOUBLE) / n_vecs AS skew_vs_even,
        |       CAST(cell_size AS DOUBLE) / n_vecs > 2.0 / n_cells AS is_hot
        |FROM cells CROSS JOIN tot CROSS JOIN nc""".stripMargin,
    "q48_ivf_adaptive" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |kv AS (SELECT greatest(1, least(4096, CAST(floor(sqrt(count(*))) AS BIGINT))) AS k FROM e),
        |c0 AS (
        |  SELECT vec_id % kv.k AS centroid_id, emb AS c_emb FROM e CROSS JOIN kv
        |  QUALIFY row_number() OVER (PARTITION BY vec_id % kv.k
        |            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) = 1),
        |a1 AS (
        |  SELECT vec_id, emb, centroid_id,
        |         round(list_dot_product(emb, c_emb)
        |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_r
        |  FROM e CROSS JOIN c0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, centroid_id) = 1),
        |x1 AS (SELECT centroid_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM a1),
        |m1 AS (SELECT centroid_id, pos,
        |              CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m
        |       FROM x1 GROUP BY 1, 2),
        |c1m AS (SELECT centroid_id, list(m ORDER BY pos) AS c_emb FROM m1 GROUP BY 1),
        |c1 AS (SELECT c0.centroid_id, coalesce(c1m.c_emb, c0.c_emb) AS c_emb
        |       FROM c0 LEFT JOIN c1m USING (centroid_id)),
        |fin AS (
        |  SELECT vec_id, centroid_id,
        |         round(list_dot_product(emb, c_emb)
        |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_to_centroid
        |  FROM e CROSS JOIN c1
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_to_centroid DESC, centroid_id) = 1),
        |sizes AS (SELECT centroid_id, count(*) AS cell_size FROM fin GROUP BY 1)
        |SELECT vec_id, fin.centroid_id, cos_to_centroid, cell_size
        |FROM fin JOIN sizes ON fin.centroid_id = sizes.centroid_id""".stripMargin,
    "q24_ivf_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c0 AS (
        |  SELECT vec_id % 16 AS centroid_id, emb AS c_emb FROM e
        |  QUALIFY row_number() OVER (PARTITION BY vec_id % 16
        |            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) = 1),
        |a1 AS (
        |  SELECT vec_id, emb, centroid_id,
        |         round(list_dot_product(emb, c_emb)
        |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_r
        |  FROM e CROSS JOIN c0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, centroid_id) = 1),
        |x1 AS (SELECT centroid_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM a1),
        |m1 AS (SELECT centroid_id, pos,
        |              CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m
        |       FROM x1 GROUP BY 1, 2),
        |c1m AS (SELECT centroid_id, list(m ORDER BY pos) AS c_emb FROM m1 GROUP BY 1),
        |c1 AS (SELECT c0.centroid_id, coalesce(c1m.c_emb, c0.c_emb) AS c_emb
        |       FROM c0 LEFT JOIN c1m USING (centroid_id)),
        |fin AS (
        |  SELECT vec_id, centroid_id,
        |         round(list_dot_product(emb, c_emb)
        |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_to_centroid
        |  FROM e CROSS JOIN c1
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_to_centroid DESC, centroid_id) = 1),
        |sizes AS (SELECT centroid_id, count(*) AS cell_size FROM fin GROUP BY 1)
        |SELECT vec_id, fin.centroid_id, cos_to_centroid, cell_size
        |FROM fin JOIN sizes ON fin.centroid_id = sizes.centroid_id""".stripMargin,
    "q32_ivf_search" -> s"WITH $ivfSearchOracleCtes\n$ivfSearchOracleTail",
    "q67_chunk_retrieval" -> chunkRetrievalSql,
    "q35_ivf_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c0 AS (
        |  SELECT vec_id % 16 AS centroid_id, emb AS c_emb FROM e
        |  QUALIFY row_number() OVER (PARTITION BY vec_id % 16
        |            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) = 1),
        |a1 AS (
        |  SELECT vec_id, emb, centroid_id,
        |         round(list_dot_product(emb, c_emb)
        |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_r
        |  FROM e CROSS JOIN c0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, centroid_id) = 1),
        |x1 AS (SELECT centroid_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM a1),
        |m1 AS (SELECT centroid_id, pos,
        |              CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m
        |       FROM x1 GROUP BY 1, 2),
        |c1m AS (SELECT centroid_id, list(m ORDER BY pos) AS c_emb FROM m1 GROUP BY 1),
        |c1 AS (SELECT c0.centroid_id, coalesce(c1m.c_emb, c0.c_emb) AS c_emb
        |       FROM c0 LEFT JOIN c1m USING (centroid_id)),
        |fin AS (
        |  SELECT vec_id, emb, centroid_id,
        |         round(list_dot_product(emb, c_emb)
        |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_r
        |  FROM e CROSS JOIN c1
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, centroid_id) = 1),
        |x2 AS (SELECT centroid_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM fin),
        |m2 AS (SELECT centroid_id, pos,
        |              CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m
        |       FROM x2 GROUP BY 1, 2),
        |c2m AS (SELECT centroid_id, list(m ORDER BY pos) AS c_emb FROM m2 GROUP BY 1),
        |c2 AS (SELECT c1.centroid_id, coalesce(c2m.c_emb, c1.c_emb) AS c_emb
        |       FROM c1 LEFT JOIN c2m USING (centroid_id)),
        |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 20),
        |cr AS (
        |  SELECT q_id, q_emb, centroid_id,
        |         row_number() OVER (PARTITION BY q_id ORDER BY
        |           round(list_dot_product(q_emb, c_emb)
        |                 / (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) DESC,
        |           centroid_id) AS cell_rank
        |  FROM q CROSS JOIN c2
        |  QUALIFY cell_rank <= 4),
        |cand AS (
        |  SELECT cr.q_id, f.vec_id AS c_id, cr.cell_rank,
        |         round(list_dot_product(cr.q_emb, f.emb)
        |               / (sqrt(list_dot_product(cr.q_emb, cr.q_emb)) * sqrt(list_dot_product(f.emb, f.emb))), 4) AS cosine_sim
        |  FROM fin f JOIN cr ON f.centroid_id = cr.centroid_id
        |  WHERE f.vec_id <> cr.q_id),
        |exact AS (
        |  SELECT q.q_id, c.vec_id AS c_id
        |  FROM q JOIN e c ON q.q_id <> c.vec_id
        |  QUALIFY row_number() OVER (PARTITION BY q.q_id ORDER BY
        |    round(list_dot_product(q.q_emb, c.emb)
        |          / (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(c.emb, c.emb))), 4) DESC,
        |    c.vec_id) <= 5),
        |levels AS (SELECT * FROM (VALUES (1), (2), (4)) t(nprobe)),
        |probed AS (
        |  SELECT l.nprobe, c.q_id, c.c_id,
        |         row_number() OVER (PARTITION BY l.nprobe, c.q_id
        |                            ORDER BY c.cosine_sim DESC, c.c_id) AS rk
        |  FROM cand c JOIN levels l ON c.cell_rank <= l.nprobe)
        |SELECT CAST(p.nprobe AS BIGINT) AS nprobe,
        |       CAST(sum(CASE WHEN p.rk <= 5 AND ex.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS total_hits,
        |       round(CAST(sum(CASE WHEN p.rk <= 5 AND ex.c_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 100.0, 4) AS recall_at5,
        |       round(CAST(count(*) AS DOUBLE) / 20.0, 2) AS avg_candidates
        |FROM probed p LEFT JOIN exact ex ON p.q_id = ex.q_id AND p.c_id = ex.c_id
        |GROUP BY 1""".stripMargin,
    "q51_ivf_append" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |t AS (SELECT * FROM e WHERE vec_id % 5 <> 4),
        |c0 AS (
        |  SELECT vec_id % 16 AS centroid_id, emb AS c_emb FROM t
        |  QUALIFY row_number() OVER (PARTITION BY vec_id % 16
        |            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) = 1),
        |a1 AS (
        |  SELECT vec_id, emb, centroid_id,
        |         round(list_dot_product(emb, c_emb)
        |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_r
        |  FROM t CROSS JOIN c0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, centroid_id) = 1),
        |x1 AS (SELECT centroid_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM a1),
        |m1 AS (SELECT centroid_id, pos,
        |              CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m
        |       FROM x1 GROUP BY 1, 2),
        |c1m AS (SELECT centroid_id, list(m ORDER BY pos) AS c_emb FROM m1 GROUP BY 1),
        |c1 AS (SELECT c0.centroid_id, coalesce(c1m.c_emb, c0.c_emb) AS c_emb
        |       FROM c0 LEFT JOIN c1m USING (centroid_id)),
        |fin AS (
        |  SELECT vec_id, emb, centroid_id,
        |         round(list_dot_product(emb, c_emb)
        |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_r
        |  FROM t CROSS JOIN c1
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, centroid_id) = 1),
        |x2 AS (SELECT centroid_id, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM fin),
        |m2 AS (SELECT centroid_id, pos,
        |              CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*) AS m
        |       FROM x2 GROUP BY 1, 2),
        |c2m AS (SELECT centroid_id, list(m ORDER BY pos) AS c_emb FROM m2 GROUP BY 1),
        |c2 AS (SELECT c1.centroid_id, coalesce(c2m.c_emb, c1.c_emb) AS c_emb
        |       FROM c1 LEFT JOIN c2m USING (centroid_id)),
        |arrivals AS (
        |  SELECT vec_id, centroid_id,
        |         round(list_dot_product(emb, c_emb)
        |               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) AS cos_to_centroid
        |  FROM (SELECT * FROM e WHERE vec_id % 5 = 4) CROSS JOIN c2
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_to_centroid DESC, centroid_id) = 1),
        |unioned AS (
        |  SELECT vec_id, centroid_id, cos_r AS cos_to_centroid, false AS is_new_vec FROM fin
        |  UNION ALL
        |  SELECT vec_id, centroid_id, cos_to_centroid, true AS is_new_vec FROM arrivals),
        |sizes AS (SELECT centroid_id, CAST(count(*) AS BIGINT) AS cell_size FROM unioned GROUP BY 1)
        |SELECT u.vec_id, u.centroid_id, u.cos_to_centroid, s.cell_size, u.is_new_vec
        |FROM unioned u JOIN sizes s ON u.centroid_id = s.centroid_id""".stripMargin,
    "q49_ivf_pq" -> pqOracle(
      """q AS (SELECT vec_id AS q_id, centroid_id, emb AS q_emb FROM fin WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.q_id, r.vec_id AS c_id,
        |         round(list_dot_product(q.q_emb, r.recon)
        |               / (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(r.recon, r.recon))), 4) AS approx_cos
        |  FROM recon r JOIN q USING (centroid_id) WHERE r.vec_id <> q.q_id)
        |SELECT q_id, c_id, approx_cos,
        |       CAST(row_number() OVER (PARTITION BY q_id ORDER BY approx_cos DESC, c_id) AS BIGINT) AS rank
        |FROM scored QUALIFY rank <= 5""".stripMargin),
    "q68_pq_rerank" -> pqOracle(
      """q AS (SELECT vec_id AS q_id, centroid_id, emb AS q_emb FROM fin WHERE vec_id < 20),
        |sc AS (
        |  SELECT q.q_id, q.q_emb, r.vec_id AS c_id,
        |         round(list_dot_product(q.q_emb, r.recon)
        |               / (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(r.recon, r.recon))), 4) AS approx_cos
        |  FROM recon r JOIN q USING (centroid_id) WHERE r.vec_id <> q.q_id),
        |cand AS (
        |  SELECT q_id, q_emb, c_id, approx_cos,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY approx_cos DESC, c_id) AS BIGINT) AS approx_rank
        |  FROM sc QUALIFY approx_rank <= 20),
        |ex AS (
        |  SELECT cand.q_id, cand.c_id, cand.approx_cos, cand.approx_rank,
        |         round(list_dot_product(cand.q_emb, c.emb)
        |               / (sqrt(list_dot_product(cand.q_emb, cand.q_emb)) * sqrt(list_dot_product(c.emb, c.emb))), 4) AS exact_cos
        |  FROM cand JOIN e c ON c.vec_id = cand.c_id)
        |SELECT q_id, c_id, approx_cos, approx_rank, exact_cos,
        |       CAST(row_number() OVER (PARTITION BY q_id ORDER BY exact_cos DESC, c_id) AS BIGINT) AS rank
        |FROM ex QUALIFY rank <= 5""".stripMargin),
    "q50_pq_recall" -> pqOracle(
      """q AS (SELECT vec_id AS q_id, emb AS q_emb FROM fin WHERE vec_id < 20),
        |cr AS (
        |  SELECT q_id, q_emb, centroid_id,
        |         row_number() OVER (PARTITION BY q_id ORDER BY
        |           round(list_dot_product(q_emb, c_emb)
        |                 / (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))), 4) DESC,
        |           centroid_id) AS cell_rank
        |  FROM q CROSS JOIN c2
        |  QUALIFY cell_rank <= 4),
        |cand AS (
        |  SELECT cr.q_id, r.vec_id AS c_id, cr.cell_rank,
        |         round(list_dot_product(cr.q_emb, r.recon)
        |               / (sqrt(list_dot_product(cr.q_emb, cr.q_emb)) * sqrt(list_dot_product(r.recon, r.recon))), 4) AS approx_cos
        |  FROM recon r JOIN cr ON r.centroid_id = cr.centroid_id
        |  WHERE r.vec_id <> cr.q_id),
        |exact AS (
        |  SELECT q.q_id, c.vec_id AS c_id
        |  FROM q JOIN e c ON q.q_id <> c.vec_id
        |  QUALIFY row_number() OVER (PARTITION BY q.q_id ORDER BY
        |    round(list_dot_product(q.q_emb, c.emb)
        |          / (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(c.emb, c.emb))), 4) DESC,
        |    c.vec_id) <= 5),
        |levels AS (SELECT * FROM (VALUES (1), (2), (4)) t(nprobe)),
        |probed AS (
        |  SELECT l.nprobe, c.q_id, c.c_id,
        |         row_number() OVER (PARTITION BY l.nprobe, c.q_id
        |                            ORDER BY c.approx_cos DESC, c.c_id) AS rk
        |  FROM cand c JOIN levels l ON c.cell_rank <= l.nprobe)
        |SELECT CAST(p.nprobe AS BIGINT) AS nprobe,
        |       CAST(sum(CASE WHEN p.rk <= 5 AND ex.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS total_hits,
        |       round(CAST(sum(CASE WHEN p.rk <= 5 AND ex.c_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 100.0, 4) AS recall_at5,
        |       round(CAST(count(*) AS DOUBLE) / 20.0, 2) AS avg_candidates
        |FROM probed p LEFT JOIN exact ex ON p.q_id = ex.q_id AND p.c_id = ex.c_id
        |GROUP BY 1""".stripMargin),
    "d05_embedding_knn" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.q_id, c.vec_id AS c_id,
        |         round(list_dot_product(q.q_emb, c.emb)
        |               / (sqrt(list_dot_product(q.q_emb, q.q_emb))
        |                  * sqrt(list_dot_product(c.emb, c.emb))), 4) AS cosine_sim
        |  FROM q JOIN e c ON q.q_id <> c.vec_id)
        |SELECT q_id, c_id, cosine_sim,
        |       CAST(row_number() OVER (PARTITION BY q_id
        |            ORDER BY cosine_sim DESC, c_id) AS BIGINT) AS rank
        |FROM scored
        |QUALIFY rank <= 10""".stripMargin,
    "d11_embedding_neardup" ->
      """WITH comps AS (
        |  SELECT vec_id,
        |         unnest(range(1, len(embedding) + 1)) AS d,
        |         unnest(CAST(embedding AS DOUBLE[])) AS v
        |  FROM embeddings),
        |js AS (SELECT unnest(range(0, 8)) AS j),
        |bits AS (
        |  SELECT vec_id, j,
        |         CAST(sum(v * (CASE WHEN substr(md5('hp_' || j || '_' || d), 1, 1)
        |                            IN ('8','9','a','b','c','d','e','f')
        |                       THEN 1.0 ELSE -1.0 END)) > 0 AS BIGINT) AS bit
        |  FROM comps CROSS JOIN js GROUP BY 1, 2),
        |buckets AS (
        |  SELECT vec_id,
        |         CAST(sum(bit * CAST(round(power(2, j), 0) AS BIGINT)) AS BIGINT) AS lsh_bucket
        |  FROM bits GROUP BY 1),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |wb AS (SELECT b.vec_id, b.lsh_bucket, e.emb FROM buckets b JOIN e USING (vec_id)),
        |pairs AS (
        |  SELECT a.vec_id, b.vec_id AS nn_id,
        |         round(list_dot_product(a.emb, b.emb)
        |               / (sqrt(list_dot_product(a.emb, a.emb))
        |                  * sqrt(list_dot_product(b.emb, b.emb))), 4) AS cos_r
        |  FROM wb a JOIN wb b ON a.lsh_bucket = b.lsh_bucket AND a.vec_id <> b.vec_id),
        |t1 AS (
        |  SELECT vec_id, nn_id, cos_r,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, nn_id) AS rk
        |  FROM pairs)
        |SELECT bk.vec_id, bk.lsh_bucket, t1.nn_id AS nn_vec_id, t1.cos_r AS nn_cosine,
        |       coalesce(t1.cos_r >= 0.99, false) AS is_near_dup
        |FROM buckets bk LEFT JOIN t1 ON bk.vec_id = t1.vec_id AND t1.rk = 1""".stripMargin,
    "d06_embedding_lsh" ->
      """WITH comps AS (
        |  SELECT vec_id, label,
        |         unnest(range(1, len(embedding) + 1)) AS d,
        |         unnest(CAST(embedding AS DOUBLE[])) AS v
        |  FROM embeddings),
        |js AS (SELECT unnest(range(0, 8)) AS j),
        |bits AS (
        |  SELECT vec_id, label, j,
        |         CAST(sum(v * (CASE WHEN substr(md5('hp_' || j || '_' || d), 1, 1)
        |                            IN ('8','9','a','b','c','d','e','f')
        |                       THEN 1.0 ELSE -1.0 END)) > 0 AS BIGINT) AS bit
        |  FROM comps CROSS JOIN js GROUP BY 1, 2, 3),
        |buckets AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         CAST(sum(bit * CAST(round(power(2, j), 0) AS BIGINT)) AS BIGINT) AS lsh_bucket
        |  FROM bits GROUP BY 1, 2)
        |SELECT vec_id, label, lsh_bucket,
        |       count(*) OVER (PARTITION BY lsh_bucket) AS bucket_size
        |FROM buckets""".stripMargin)
}
