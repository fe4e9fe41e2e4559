package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, Analytics2, Cleaning, Dedup, Events, Facts, Similarity, TextAnalysis}
import graft.plans.GraftExtensions

/** Plan-shape guarantees that must survive refactors: pruned scans,
  * pushed filters, broadcast dim joins, codegen coverage. These are the
  * properties that make the same code viable at 100 TB.
  */
class PlanHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("cleaning is a pure narrow scan: filter pushed, columns pruned, no shuffle") {
    val p = plan(Cleaning.cleanLineitem(spark, TestSpark.sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") || p.contains("GreaterThan(l_quantity"))
    assert(!p.contains("Exchange"), s"cleaning must not shuffle:\n$p")
    // whole-stage codegen renders as "*(n)" stage markers in this format
    assert(p.contains("*(1)"), s"expected whole-stage codegen:\n$p")
  }

  test("category performance broadcasts the part dim and prunes the scan") {
    val p = plan(Analytics.categoryPerformance(spark, TestSpark.sf))
    assert(p.contains("BroadcastHashJoin"))
    // lineitem scan must not read all 11 columns
    val readSchemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSeq
    val liSchema = readSchemas.find(_.contains("l_extendedprice")).get
    assert(!liSchema.contains("l_shipdate") && !liSchema.contains("l_tax"),
      s"lineitem scan not pruned: $liSchema")
  }

  test("top customers plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Analytics.topCustomers(spark, TestSpark.sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("funnel shuffles events once and never broadcasts an unbounded aggregate") {
    val p = plan(Events.funnel(spark, TestSpark.sf))
    // a broadcast of a per-user aggregate (unbounded cardinality) is a
    // driver OOM at 100 TB — the funnel must stay hint-free so the three
    // stage windows + per-user collapse ride one hash exchange
    assert(!p.contains("BroadcastExchange"),
      s"funnel must not broadcast per-user aggregates:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 1, s"funnel should shuffle events once, saw $shuffles:\n$p")
  }

  test("fact build has no unpartitioned window (hash surrogate keys)") {
    val p = plan(Facts.factSales(spark, TestSpark.sf))
    // a row_number over an empty partitionBy serializes the whole dim
    // through one task; the fact path must derive FKs by hash instead
    assert(!p.contains("Window"), s"fact build must not window:\n$p")
  }

  test("hash sampler is a pure narrow filter: no shuffle, no window") {
    val p = plan(TextAnalysis.hashSample(spark, TestSpark.sf))
    assert(!p.contains("Exchange"), s"sampler must not shuffle:\n$p")
    assert(!p.contains("Window"), s"sampler must not window:\n$p")
  }

  test("embedding LSH: no explode, no window, one shuffle + broadcast join-back") {
    val p = plan(Similarity.embeddingLsh(spark, TestSpark.sf))
    // the round-2 form posexploded corpus × dims × 8 planes through two
    // shuffled aggregations — a scale-killer at real embedding volume
    assert(!p.contains("Generate"), s"LSH must not explode:\n$p")
    assert(!p.contains("Window"), s"bucket_size must not window:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 1, s"expected ≤1 shuffle (bucket count), saw $shuffles:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"bucket sizes must broadcast back:\n$p")
  }

  test("q47 slice: the date-key range reaches the orders side below the fact join") {
    import org.apache.spark.sql.functions._
    val p = plan(Facts.factSales(spark, TestSpark.sf)
      .filter(col("date_key").between(0L, 19981231L)))
    // date_key is a projection of o_orderdate, so Catalyst must push the
    // range through the join as an orders-side predicate — without it
    // every incremental load scans and joins the full fact input (at
    // production scale the same predicate prunes date partitions)
    assert("Filter [^\\n]*date_format\\(cast\\(o_orderdate".r.findFirstIn(p).isDefined,
      s"date range not pushed to the orders side:\n$p")
  }

  test("d19 shard probe: equi-join blocking, no cartesian product, no window") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val isShard = pmod(col("doc_id"), lit(5L)) === 4
    // a tier over any (doc_id, shingle) frame yields the same probe plan shape
    val corpusTier = Dedup.indexTierOf(
      Seq((1L, "a b c"), (1L, "b c d"), (2L, "a b c")).toDF("doc_id", "shingle"), 6, 3)
    val shardTier = Dedup.indexTierOf(
      Dedup.wordShinglesOf(docs.filter(isShard), dedup = false), 6, 3)
    val p = plan(Dedup.shardProbeFrame(corpusTier, shardTier))
    // candidate generation must be band-bucket equi-joins — a cartesian
    // or nested-loop pair join is the all-pairs scan LSH exists to avoid
    assert(!p.contains("CartesianProduct"), s"shard probe went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"shard probe went all-pairs:\n$p")
    // keep-min survivorship is an aggregation, never a per-pair window
    assert(!p.contains("Window"), s"shard probe must not window:\n$p")
  }

  test("ingest tick probe: the band pair join runs once, its shuffle reused by every consumer") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val isShard = pmod(col("doc_id"), lit(5L)) === 4
    // a tick probes published tiers: parquet reads, as in ingestShardCore
    val idx = java.nio.file.Files.createTempDirectory("graft_probe_plan").toString
    val tier = (d: org.apache.spark.sql.DataFrame, name: String) => {
      Dedup.indexTierOf(Dedup.wordShinglesOf(d, dedup = false), 6, 3)
        .write.parquet(s"$idx/$name")
      spark.read.parquet(s"$idx/$name")
    }
    val probe = Dedup.shardProbeFrame(
      tier(docs.filter(!isShard), "corpus"), tier(docs.filter(isShard), "shard"))
    probe.collect()
    // the final adaptive plan prints a reused stage once, as ReusedExchange;
    // the verify and both candidateDocs branches read the one pair join
    val p = plan(probe).split("== Initial Plan ==").head
    assert(p.contains("== Final Plan =="), p)
    val bandJoins = p.linesIterator.count(l => l.contains("Join") && l.contains("band_hash"))
    assert(bandJoins == 1, s"the band pair join is planned $bandJoins times:\n$p")
    assert(p.contains("ReusedExchange"), s"no consumer reuses the pair shuffle:\n$p")
  }

  test("d19 plans its band pair join once, and its frame replays after a cache release") {
    val d19 = Dedup.shardDedup(spark, TestSpark.sf)
    val rows = d19.collect().map(_.toString).sorted.toSeq
    // both tiers are read back from parquet: no lazy shard filter is
    // inferred into the candidateDocs branches, so the copies match
    val p = plan(d19).split("== Initial Plan ==").head
    assert(p.contains("== Final Plan =="), p)
    val bandJoins = p.linesIterator.count(l => l.contains("Join") && l.contains("band_hash"))
    assert(bandJoins == 1, s"the band pair join is planned $bandJoins times:\n$p")
    GraftSession.releaseQueryCaches(spark)
    assert(d19.collect().map(_.toString).sorted.toSeq == rows,
      "the d19 frame must replay the same rows after a release")
  }

  test("q58 cube: one Expand, one aggregation exchange, dim broadcast") {
    val p = plan(Analytics.segmentPriorityCube(spark, TestSpark.sf))
    // all four grains must ride ONE Expand into one combining agg — four
    // separate groupBys would scan and shuffle the fact four times
    assert("Expand".r.findAllIn(p).size == 1, s"expected exactly one Expand:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"customer dim must broadcast:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 1, s"expected ≤1 aggregation exchange, saw $shuffles:\n$p")
  }

  test("e10 interval join: compound-key equi join, no cartesian, no window") {
    val p = plan(Events.clickAttribution(spark, TestSpark.sf))
    // the range predicate must ride a (user, hour-bucket) equi join —
    // a nested-loop range join pairs every click with every purchase
    assert(!p.contains("CartesianProduct"), s"e10 went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"e10 went all-pairs:\n$p")
    assert(!p.contains("Window"), s"e10 must aggregate, not window:\n$p")
    // the join key must carry the bucket, not user_id alone
    assert("Join [^\\n]*bucket".r.findFirstIn(p).isDefined ||
      "hashpartitioning\\([^\\n]*bucket".r.findFirstIn(p).isDefined,
      s"bucket key missing from the join:\n$p")
  }

  test("q49 PQ search: codebooks broadcast, no cartesian, window only on the bounded query set") {
    val p = plan(Similarity.pqSearch(spark, TestSpark.sf))
    // the two codebooks and the query set ride broadcast joins; the
    // codes/assignment side streams — a cartesian or nested-loop join
    // would be the all-pairs scan the tier exists to avoid
    assert(!p.contains("CartesianProduct"), s"PQ search went all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"codebooks must broadcast:\n$p")
    // the only Window is the per-query top-k over in-cell candidates
    // (bounded q_id partitions), never a corpus-wide one
    assert("Window \\[[^\\]]*q_id".r.findFirstIn(p).isDefined,
      s"expected the top-k window partitioned by q_id:\n$p")
    assert(p.split("\n").count(_.contains("Window [")) == 1,
      s"unexpected extra Window operators:\n$p")
  }

  test("q51 append: arrivals ride one broadcast E-step — no retrain in the plan") {
    val p = plan(Similarity.ivfAppend(spark, TestSpark.sf))
    // assign-on-arrival must not retrain: a Lloyd M-step would show as
    // a posexplode (Generate) feeding decimal means — the build path's
    // signature — and the arrivals' argmax is the map-side max(struct),
    // never a per-vector window
    assert(!p.contains("Generate"), s"append plan contains a retrain explode:\n$p")
    assert(!p.contains("Window"), s"append must not window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"codebook must broadcast:\n$p")
  }

  test("q48 adaptive assignment: windowless argmax, broadcast codebook") {
    val p = plan(Similarity.ivfAssignAdaptive(spark, TestSpark.sf))
    // nearest-centroid must stay a map-side max(struct) aggregation —
    // a per-vector rank window would shuffle the corpus per E-step
    assert(!p.contains("Window"), s"adaptive E-step must not window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"codebook must broadcast:\n$p")
  }

  test("simhash: windowless build, band counts broadcast back over the published artifact") {
    // BUILD path: one corpus aggregation — the 64-way bit loop is
    // static aggregate columns (no explode(0..63) row blowup), no
    // window anywhere, exactly one doc_id exchange
    val pb = plan(Dedup.simhashBands(spark, TestSpark.sf))
    assert(!pb.contains("Window"), s"bands build must not window:\n$pb")
    assert(!pb.contains("explode(sequence"), s"bit loop must not explode:\n$pb")
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(pb).size <= 1,
      s"bands build must aggregate the corpus once:\n$pb")
    // REPORT path (d04): probes the artifact the entry just published —
    // band counts are tiny groupBys broadcast-joined back, never a
    // window partitioned by the band keys (which would funnel the
    // corpus into per-band-value tasks)
    val df = Dedup.simhash(spark, TestSpark.sf)
    val p = plan(df)
    assert(p.contains("simhash_bands"), s"d04 must read the published artifact:\n$p")
    assert(!p.contains("Window"), s"band counts must not window:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"band counts must broadcast back:\n$p")
    // PAIR path (d17): the COMPUTE reads the band artifact with no
    // corpus re-scan...
    val pp = plan(Dedup.simhashPairsFrom(Dedup.bandsArtifact(spark, TestSpark.sf)))
    assert(pp.contains("simhash_bands"), s"d17 must read the published artifact:\n$pp")
    assert(!pp.contains("documents.parquet"), s"d17 must not re-scan the corpus:\n$pp")
    // ...and the ENTRY publishes that frame and returns the published
    // PAIR artifact — the read surface d20's survivorship aggregates
    val pr = plan(Dedup.simhashPairs(spark, TestSpark.sf))
    assert(pr.contains("simhash_pairs"), s"d17 must return the pair artifact:\n$pr")
  }

  test("dashboard filter slice pushes both predicates to the scans and broadcasts the dim") {
    val p = plan(Analytics2.filteredSales(spark, TestSpark.sf,
      "1996-01-01", "1996-12-31", Seq("STANDARD", "PROMO")))
    // the date range must prune orders row groups at the scan, and the
    // category IN-list must prune the part scan — an interactive filter
    // that scans everything is unusable at 100 TB
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), s"date filter not pushed:\n$p")
    assert(p.contains("In(p_type"), s"category filter not pushed:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"category dim must broadcast:\n$p")
  }

  test("d08/d09 are pure aggregations over the published verified-pair artifact") {
    // d07 carries the verification build and publishes the artifact
    graft.operators.Dedup.dedupPipeline(spark, TestSpark.sf).count()
    for (q <- Seq("d08_contamination", "d09_source_overlap")) {
      val p = plan(SparkEntry.queries(q)(spark, TestSpark.sf))
      assert(p.contains("verified_pairs"), s"$q must read the artifact:\n$p")
      // the round-3 shape re-exploded candidate docs into shingle sets
      // per consumer; the artifact tier makes both consumers explode-free
      assert(!p.contains("Generate"), s"$q must not explode shingles:\n$p")
      assert(!p.contains("collect_set"), s"$q must not rebuild shingle sets:\n$p")
    }
  }

  test("t06 repetition stats: one corpus scan, no join-back, no window") {
    val p = plan(TextAnalysis.repetitionStats(spark, TestSpark.sf))
    // the per-doc stats ride the explode as grouping keys — a second
    // scan + corpus-sized join-back would double the 100 TB read
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"t06 must scan documents once, saw $scans:\n$p")
    assert(!p.contains("Join"), s"t06 must not join:\n$p")
    assert(!p.contains("Window"), s"t06 must not window:\n$p")
  }

  test("d13 contamination: two pruned scans, hash-key join only, no all-pairs") {
    val p = plan(Dedup.ngramContamination(spark, TestSpark.sf))
    assert(!p.contains("Window"), s"d13 must not window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d13 must join on the gram hash, never all-pairs:\n$p")
    // the single-aggregation form reads documents exactly twice — once
    // per boundary side — with the source predicate pruning each scan
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 2, s"d13 must scan documents once per side, saw $scans:\n$p")
    assert(p.contains("PushedFilters: [In(source") &&
      p.contains("PushedFilters: [Not(In(source"),
      s"source split must push to both scans:\n$p")
  }

  test("d14 funnel: declarative joins only — no window, no all-pairs") {
    // the funnel composes d01's groupBy+join-back (a min-over-window per
    // content hash would funnel the corpus into per-hash tasks), d12's
    // assignment, and d13's keep-list — all equi-joins the optimizer is
    // free to broadcast; any all-pairs fallback means a key got lost
    val p = plan(Dedup.curationFunnel(spark, TestSpark.sf))
    assert(!p.contains("Window"), s"d14 must not window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d14 must join on keys, never all-pairs:\n$p")
  }

  test("e05 cohort retention: one user exchange; share window on post-agg rows only") {
    val df = Events.cohortRetention(spark, TestSpark.sf)
    val p = plan(df)
    // the only user_id shuffle is the collect_set aggregation; the
    // retention window must partition by cohort_week (tiny post-agg
    // frame), never by user
    val userShuffles = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(userShuffles <= 1, s"e05 should shuffle users once, saw $userShuffles:\n$p")
    assert(!p.contains("partitionBy=\\[user_id") &&
      "Window .*user_id".r.findFirstIn(p).isEmpty,
      s"retention window must not partition by user:\n$p")
  }

  test("t12 packing: the corpus-facing running sum windows by bucket, never globally") {
    val p = plan(TextAnalysis.packSequences(spark, TestSpark.sf))
    // a global running-sum window serializes the whole corpus through
    // one task; only the 256-row bucket-offsets frame (summing btok)
    // may window without the bucket partition key
    val windowLines = p.split("\n").filter(_.contains("Window "))
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.exists(_.contains("tokens#")), s"expected the doc window in:\n$p")
    windowLines.filterNot(_.contains("btok")).foreach { l =>
      assert("windowspecdefinition\\([^)]*bucket".r.findFirstIn(l).isDefined,
        s"doc-row running sum must partition by bucket:\n$l")
    }
  }

  test("t08 sampler: corpus-facing window partitions by (source, bucket), never source alone") {
    val p = plan(TextAnalysis.tokenBudgetSample(spark, TestSpark.sf))
    // the naive running-sum window over PARTITION BY source funnels the
    // corpus into ≤#sources tasks; only the boundary-bucket window may
    // sum doc-row tokens, and its partition spec must carry the bucket
    // key (windows over the tiny bucket frame sum btok, not n_tokens)
    val windowLines = p.split("\n").filter(_.contains("Window "))
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, s"expected windows in:\n$p")
    windowLines.filter(_.contains("n_tokens")).foreach { l =>
      assert("windowspecdefinition\\([^)]*bucket".r.findFirstIn(l).isDefined,
        s"doc-row running sum must partition by (source, bucket):\n$l")
    }
    assert(windowLines.exists(_.contains("n_tokens")),
      s"expected the boundary-bucket running sum:\n$p")
  }

  test("t17 selection: the doc-facing running sum windows by value bucket, never globally") {
    val p = plan(TextAnalysis.dsirSelect(spark, TestSpark.sf))
    // a global weight-ordered running sum serializes the corpus through
    // one task; only the tiny bucket frame (summing btok) may window
    // without the vb partition key
    val windowLines = p.split("\n").filter(_.contains("Window "))
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.exists(_.contains("n_tokens")),
      s"expected the boundary-bucket running sum:\n$p")
    windowLines.filter(_.contains("n_tokens")).foreach { l =>
      assert("windowspecdefinition\\(vb".r.findFirstIn(l).isDefined,
        s"doc-row running sum must partition by the value bucket:\n$l")
    }
  }

  test("q42 heavy hitters: top-20 via TakeOrderedAndProject, windows on the slice only") {
    val p = plan(Analytics2.heavyHitters(spark, TestSpark.sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"q42's top-20 must merge per-partition heads, not globally sort:\n$p")
    // the rank window consumes the 20-row slice (post-limit), so the
    // plan's Window sits above the TakeOrderedAndProject; bind the index
    // so an absent Window (indexOf == -1) can never pass vacuously
    val wIdx = p.indexOf("Window")
    assert(wIdx >= 0, s"expected the rank window in:\n$p")
    assert(wIdx < p.indexOf("TakeOrderedAndProject"),
      s"rank window must consume the limited slice:\n$p")
  }

  test("e06 rolling actives: offset explode, never a per-day nested loop; no window") {
    val p = plan(Events.rollingActiveUsers(spark, TestSpark.sf))
    assert(!p.contains("Window"), s"e06 must not window:\n$p")
    // the range-join formulation (d BETWEEN r-29 AND r) has no equi key
    // and falls back to a nested loop over the user-day frame per day
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"e06 must stay equi-join + explode:\n$p")
    // round-12 form: the three window memberships are conditional
    // counts over a per-(day, user) min-offset pre-aggregation — the
    // old 3× countDistinct Expand (which tripled the shuffled contrib
    // rows) must be GONE, and the min-off hash aggregation present
    assert(!p.contains("Expand"), s"the countDistinct expand is retired:\n$p")
    assert(p.contains("min(off") || p.contains("min_off"),
      s"expected the per-(day, user) min-offset pre-aggregation:\n$p")
  }

  test("t09 keyword window partitions by doc_id; t10 windows consume post-agg rows") {
    val p9 = plan(TextAnalysis.tfidfKeywords(spark, TestSpark.sf))
    val w9 = p9.split("\n").filter(_.contains("windowspecdefinition")).toSeq
    assert(w9.nonEmpty, s"expected the top-k window in:\n$p9")
    w9.foreach(l => assert(l.contains("doc_id"),
      s"t09's window must partition by doc_id (bounded per-doc groups):\n$l"))
    // the tf and df branches share one (doc, token) aggregation at
    // runtime: df consumes the tf count so both subtrees canonicalize
    // identically and AQE stage reuse replaces the second corpus explode
    val df9 = TextAnalysis.tfidfKeywords(spark, TestSpark.sf)
    // collect() drives df9's OWN QueryExecution (count() would plan a
    // different one), so the adaptive plan below is the executed one
    df9.collect()
    val executed = df9.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") || executed.contains("ReusedQueryStage"),
      s"t09's df branch must reuse the tf exchange:\n$executed")
    val p10 = plan(TextAnalysis.vocabCoverage(spark, TestSpark.sf))
    val w10 = p10.split("\n").filter(_.contains("windowspecdefinition")).toSeq
    assert(w10.nonEmpty, s"expected rank/coverage windows in:\n$p10")
    // vocab-facing windows (rank + running share — they order by token
    // within a bucket) must PARTITION by the (occurrences, pfx) bucket
    // key: a bare global orderBy would funnel a 10⁹-type vocab through
    // one task. Only the bucket-meta offsets frame (summing n_rows /
    // b_occ) may window unpartitioned (the tiny-post-agg exception).
    val vocabFacing = w10.filter(_.contains("token#"))
    assert(vocabFacing.nonEmpty, s"expected the bucketed rank window in:\n$p10")
    vocabFacing.foreach(l =>
      assert("windowspecdefinition\\(occurrences#\\d+L?, pfx#".r.findFirstIn(l).isDefined,
        s"t10's vocab-row windows must partition by (occurrences, pfx):\n$l"))
    w10.filterNot(_.contains("token#")).foreach(l =>
      assert(l.contains("n_rows") || l.contains("b_occ"),
        s"only the bucket-meta frame may window unpartitioned:\n$l"))
  }

  test("q46/e07: running-sum windows partition by their small keys, never a bare global") {
    val p46 = plan(graft.operators.Dimensions.customerGrowth(spark, TestSpark.sf))
    val w46 = p46.split("\n").filter(_.contains("windowspecdefinition")).toSeq
    assert(w46.nonEmpty, s"expected the cumulative window in:\n$p46")
    w46.foreach(l => assert(l.contains("customer_segment"),
      s"q46's running sum must partition by segment over the calendar grid:\n$l"))
    val p07 = plan(Events.eventAnomalies(spark, TestSpark.sf))
    val w07 = p07.split("\n").filter(_.contains("windowspecdefinition")).toSeq
    assert(w07.nonEmpty, s"expected the trailing-stat windows in:\n$p07")
    w07.foreach(l => assert(l.contains("event_type"),
      s"e07's trailing windows must partition by event_type over daily rows:\n$l"))
  }

  test("q52 RFM: no window anywhere — scores assign via broadcast counting filters") {
    // ntile/rank quintiles would global-sort the customer frame through
    // one task; the boundary-broadcast form must survive refactors
    val p = plan(Analytics2.rfmSegmentation(spark, TestSpark.sf))
    assert(!p.contains("Window"), s"q52 must not window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"quintile boundaries must broadcast:\n$p")
  }

  test("d22/d23: cell-blocked pair joins — equi on centroid_id, never a cartesian") {
    val p22 = plan(Similarity.semanticDedup(spark, TestSpark.sf))
    assert(!p22.contains("CartesianProduct"),
      s"d22 pairs must block on the cell key:\n$p22")
    assert(!p22.contains("BroadcastNestedLoopJoin"),
      s"d22's pair join must be an equi-join:\n$p22")
    val p23 = plan(Similarity.semanticContamination(spark, TestSpark.sf))
    assert(!p23.contains("CartesianProduct"),
      s"d23 probe must block on the cell key:\n$p23")
    assert(p23.contains("BroadcastHashJoin"),
      s"d23's bounded bench set must broadcast into the probe join:\n$p23")
  }

  test("q53 basket pairs explode map-side: one fact aggregation, no self-join") {
    // the census is the data-sized leg (the final assembly runs on a
    // localized brand²-bounded frame): pin the census plan — pair
    // expansion from the per-order array, never a fact self-join
    val li = graft.sources.Tables.lineitem(spark, TestSpark.sf)
      .select("l_orderkey", "l_partkey")
    val pt = graft.sources.Tables.part(spark, TestSpark.sf)
      .select("p_partkey", "p_brand")
    val pc = plan(Analytics2.basketCensus(li, pt))
    assert(!pc.contains("Window"), s"q53 census must not window:\n$pc")
    assert(!pc.contains("CartesianProduct"), s"q53 census must not go cartesian:\n$pc")
    assert(pc.contains("Generate explode"), s"expected the array pair explosion:\n$pc")
    // exactly ONE exchange consumes the fact join (the order groupBy);
    // a self-join shape would add a second fact-sized exchange
    val p = plan(Analytics2.basketAffinity(spark, TestSpark.sf))
    assert(!p.contains("Window"), s"q53 must not window:\n$p")
    assert(!p.contains("CartesianProduct"), s"q53 must not go cartesian:\n$p")
    val smj = "SortMergeJoin".r.findAllIn(p).size
    assert(smj == 0, s"q53's joins must all broadcast (got $smj SMJ):\n$p")
    spark.catalog.clearCache()
  }

  test("t15 split stamp is a pure narrow projection: no shuffle, no window") {
    val p = plan(TextAnalysis.hashSplit(spark, TestSpark.sf))
    assert(!p.contains("Exchange"), s"t15 must not shuffle:\n$p")
    assert(!p.contains("Window"), s"t15 must not window:\n$p")
  }

  test("e08 transitions: corpus windows partition by user_id; share by from_type") {
    val p = plan(Events.sessionTransitions(spark, TestSpark.sf))
    val ws = p.split("\n").filter(_.contains("windowspecdefinition")).toSeq
    assert(ws.nonEmpty, s"expected the lag/lead and share windows in:\n$p")
    ws.foreach(l => assert(l.contains("user_id") || l.contains("from_type"),
      s"every e08 window must partition by user_id or from_type:\n$l"))
  }

  test("q55 lead time: both fact scans pruned to the join's 3 columns; no window") {
    val p = plan(Analytics2.leadTime(spark, TestSpark.sf))
    assert(!p.contains("Window"), s"q55 must not window:\n$p")
    val readSchemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSeq
    val liSchema = readSchemas.find(_.contains("l_shipdate")).get
    assert(!liSchema.contains("l_extendedprice") && !liSchema.contains("l_quantity"),
      s"lineitem scan not pruned: $liSchema")
    val oSchema = readSchemas.find(_.contains("o_orderdate")).get
    assert(!oSchema.contains("o_totalprice") && !oSchema.contains("o_custkey"),
      s"orders scan not pruned: $oSchema")
  }

  test("q56 cadence: gaps from the customer window, dim broadcast, no cartesian") {
    val p = plan(Analytics2.purchaseIntervals(spark, TestSpark.sf))
    val ws = p.split("\n").filter(_.contains("windowspecdefinition")).toSeq
    assert(ws.nonEmpty && ws.forall(_.contains("o_custkey")),
      s"the gap window must partition by o_custkey:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the customer dim must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no extra fact shuffles:\n$p")
  }

  test("q54 scorecard: dims broadcast into the post-agg frame; rank window off the fact") {
    val p = plan(Analytics.supplierScorecard(spark, TestSpark.sf))
    assert(!p.contains("SortMergeJoin"),
      s"supplier/nation/region must broadcast:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3,
      s"expected 3 broadcast dim joins:\n$p")
    // the rank window partitions the supplier-sized frame by nation —
    // it must sit ABOVE the fact aggregation, not under it
    val ws = p.split("\n").filter(_.contains("windowspecdefinition")).toSeq
    assert(ws.nonEmpty && ws.forall(_.contains("windowspecdefinition(nation#")),
      s"rank window must partition by nation:\n$p")
  }

  test("d24 calibration: pair-keyed equi-joins only — no cartesian, no window") {
    val p = plan(Dedup.lshCalibration(spark, TestSpark.sf))
    assert(!p.contains("CartesianProduct"), s"d24 must not go cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the candidate probe must be an equi-join on the pair key:\n$p")
    assert(!p.contains("Window"), s"d24 must not window:\n$p")
  }

  test("d25 export: removal gates anti-join as broadcasts; corpus scan filters bench at source") {
    val p = plan(Dedup.trainingCorpus(spark, TestSpark.sf))
    assert(!p.contains("CartesianProduct"), s"d25 must not go cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"removal/contamination lists must broadcast anti-join:\n$p")
    // the bench-source exclusion must push to the documents scan
    assert(p.contains("Not(In(source") || p.contains("PushedFilters: [Not(In(source"),
      s"bench-source filter must push down:\n$p")
  }

  test("t16 DSIR: census and scores broadcast back — no SMJ, no window, no cartesian") {
    val p = plan(TextAnalysis.dsirWeights(spark, TestSpark.sf))
    assert(!p.contains("Window"), s"t16 must not window:\n$p")
    assert(!p.contains("CartesianProduct"), s"t16 must not go cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the 1024-row census must broadcast into the scoring join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected the broadcast scoring join:\n$p")
    assert(p.contains("Generate explode"), s"expected the bigram explosion:\n$p")
  }

  test("e09 paths: one fact pass — session collapse rides the user window's partitioning") {
    val p = plan(Events.sessionPaths(spark, TestSpark.sf))
    // the fact windows all partition by user_id; the one exception is
    // the share window over the tiny post-agg census (q38 rule)
    val ws = p.split("\n").filter(_.contains("windowspecdefinition")).toSeq
    assert(ws.nonEmpty, s"expected windows in:\n$p")
    assert(ws.count(!_.contains("user_id")) <= 1,
      s"only the census share window may leave user_id partitioning:\n$p")
    // exactly 2 hash exchanges: the user window's, and the tiny
    // partial-aggregated path census — never a (user, session)
    // re-shuffle, and never a second fact pass for the denominator
    val ex = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(ex == 2, s"expected 2 hash exchanges, got $ex:\n$p")
    val exLines = p.split("\n").filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exLines.forall(!_.contains("session_seq")),
      s"session collapse must not re-shuffle on (user_id, session_seq):\n$p")
  }

  test("scd2 merge on a big dim: one sort-merge full-outer, single shuffle per side") {
    import org.apache.spark.sql.functions._
    // SURVEY §2 claims "sort-merge at scale" for q11/Scd2.merge: with
    // broadcast off (the 10⁹-row-dim regime — neither side fits), the
    // current-slice ⋈ batch full-outer must plan as ONE SortMergeJoin
    // with exactly one hash exchange per side, and the change-type
    // expansion must ride the join output (no re-join per change type)
    def side(n: Long) = TestSpark.spark.range(0, n)
      .select(col("id").as("k"), concat(lit("attr"), col("id")).as("attr"),
        md5(concat_ws("_", col("id"), col("id") % 7)).as("row_hash"))
    val existing = side(1000)
      .withColumn("version", lit(1L))
      .withColumn("is_current", lit(true))
      .withColumn("effective_start_date", lit("1999-01-01 00:00:00").cast("timestamp_ntz"))
      .withColumn("effective_end_date", lit("9999-12-31 00:00:00").cast("timestamp_ntz"))
    val incoming = side(1200)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(operators.Scd2.merge(existing, incoming, "k",
        lit("2000-01-01 00:00:00").cast("timestamp_ntz")))
      assert("SortMergeJoin .*FullOuter".r.findFirstIn(p).isDefined,
        s"expected a full-outer sort-merge join:\n$p")
      assert("SortMergeJoin".r.findAllIn(p).size == 1,
        s"the merge must join exactly once:\n$p")
      val ex = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(ex == 2, s"expected one shuffle per join side, got $ex:\n$p")
      assert(!p.contains("BroadcastExchange"), s"broadcast was disabled:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("extensions class injects cosine_similarity (builder-level wiring)") {
    // a shared test JVM already holds a session, so exercise the injection
    // surface directly (builder-applied extensions only run at creation)
    val ext = new GraftExtensions
    ext(new org.apache.spark.sql.SparkSessionExtensions) // must not throw
    // and the same expression resolves through the registry path
    graft.plans.CosineSimilarity.register(spark)
    val r = spark.sql(
      "SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .collect().head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }
}
