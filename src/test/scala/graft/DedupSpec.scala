package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("exact dedup groups cover the corpus exactly once") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val groups = Dedup.exactDedup(spark, TestSpark.sf)
    assert(groups.agg(sum("dup_count")).collect().head.getLong(0) == docs.count())
    // keep ids are real doc ids
    assert(groups.join(docs, col("keep_doc_id") === col("doc_id"), "left_anti").count() == 0)
  }

  test("jaccard pairs are ordered, bounded, and above threshold") {
    val pairs = Dedup.ngramJaccard(spark, TestSpark.sf).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.2 && j <= 1.0)
      assert(r.getAs[Long]("inter") <= r.getAs[Long]("union_n"))
    }
  }

  test("d02 gh-keyed pair join preserves the string-join semantics") {
    import spark.implicits._
    // Same shingle text in DIFFERENT langs must NOT pair (lang folds
    // into the 60-bit key, round-14); same lang must pair exactly as
    // the string join did; a NULL lang nulls the digest in both
    // engines, so its doc pairs with nothing (the old a.lang = b.lang
    // null-drop). Docs 1/2: identical en text -> J = 1.0 pair.
    // Doc 3: identical text, lang fr -> no pair. Doc 4: null lang,
    // identical text -> no pair.
    val txt = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, "en", txt), (2L, "en", txt), (3L, "fr", txt)
    ).toDF("doc_id", "lang", "text")
      .unionByName(Seq((4L, txt)).toDF("doc_id", "text")
        .withColumn("lang", lit(null).cast("string"))
        .select(col("doc_id"), col("lang"), col("text")))
    val pairs = Dedup.ngramJaccardOf(docs)
      .select("doc_a", "doc_b", "jaccard").collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("minhash candidates contain the high-jaccard pairs (LSH recall)") {
    val exact = Dedup.ngramJaccard(spark, TestSpark.sf)
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashLsh(spark, TestSpark.sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every near-identical pair must be an LSH candidate
    assert(exact.subsetOf(cand), s"missed: ${exact -- cand}")
  }

  test("published candidate artifact is deterministic across rebuild and reuse") {
    // first call may build, second publishes again over it; the artifact
    // is a pure function of the source so both reads must be identical
    // (materialize the first read before the re-publish replaces files)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("n_shared_bands"))
    val first = Dedup.minhashLsh(spark, TestSpark.sf).collect().map(key).sorted
    val again = Dedup.minhashLsh(spark, TestSpark.sf).collect().map(key).sorted
    assert(first.nonEmpty && first.sameElements(again))
  }

  test("simhash bands are 16-bit values and the 64-bit space does not saturate") {
    val rows = Dedup.simhash(spark, TestSpark.sf).collect()
    rows.foreach { r =>
      for (b <- 0 until 4) {
        val v = r.getAs[Long](s"band$b")
        assert(v >= 0 && v < 65536, s"band$b out of 16-bit range: $v")
        assert(r.getAs[Long](s"n_same_b$b") >= 0)
      }
    }
    // the round-4 16-bit fingerprint collapsed this corpus into a few
    // hundred identical-fingerprint pairs; at 64 bits distinct
    // fingerprints must track distinct texts (collisions only for
    // near-identical token multisets)
    val fps = rows.map(r => (r.getAs[Long]("band0"), r.getAs[Long]("band1"),
      r.getAs[Long]("band2"), r.getAs[Long]("band3"))).distinct.length
    val texts = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text"))).distinct().count()
    assert(fps >= 0.9 * texts,
      s"fingerprint space saturated: $fps distinct fingerprints for $texts distinct texts")
  }

  test("d17 pair report: band-blocked candidates, hamming verified, flag at radius 3") {
    val sh = Dedup.simhashBands(spark, TestSpark.sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Seq(r.getAs[Long]("band0"), r.getAs[Long]("band1"),
          r.getAs[Long]("band2"), r.getAs[Long]("band3"))).toMap
    val pairs = Dedup.simhashPairs(spark, TestSpark.sf).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(a < b, "pairs must be canonically ordered")
      val (ba, bb) = (sh(a), sh(b))
      val shared = ba.zip(bb).count { case (x, y) => x == y }
      assert(r.getAs[Long]("n_shared_bands") == shared)
      val ham = ba.zip(bb).map { case (x, y) =>
        java.lang.Long.bitCount(x ^ y) }.sum.toLong
      assert(r.getAs[Long]("hamming_dist") == ham,
        s"hamming mismatch for ($a,$b): got ${r.getAs[Long]("hamming_dist")}, expected $ham")
      assert(r.getAs[Boolean]("is_near_dup") == (ham <= 3))
    }
    // the banding guarantee: every pair within hamming 3 shares a band,
    // so near-dups in the report == near-dups over all pairs (driver
    // recheck over the full cross product of this small corpus)
    val ids = sh.keys.toSeq.sorted
    val allNear = (for {
      i <- ids; j <- ids if i < j
      h = sh(i).zip(sh(j)).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      if h <= 3
    } yield (i, j)).toSet
    val reportedNear = pairs.filter(_.getAs[Boolean]("is_near_dup"))
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(reportedNear == allNear,
      s"missed: ${allNear -- reportedNear}; extra: ${reportedNear -- allNear}")
  }

  test("d18 bloom flags are a one-sided superset of d13's exact collisions") {
    val exact = Dedup.ngramContamination(spark, TestSpark.sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_ngrams"), r.getAs[Long]("n_collisions"))).toMap
    val bloom = Dedup.bloomContamination(spark, TestSpark.sf).collect()
    assert(bloom.nonEmpty)
    // same doc universe (every corpus doc long enough for a 13-gram)
    assert(bloom.map(_.getAs[Long]("doc_id")).toSet == exact.keySet)
    bloom.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (nGrams, nColl) = exact(id)
      assert(r.getAs[Long]("n_ngrams") == nGrams, s"doc $id gram universe differs")
      // the Bloom contract: no false negatives — every exact collision
      // is flagged (its probe positions are in the filter by
      // construction); false positives are allowed on top
      assert(r.getAs[Long]("n_flagged") >= nColl,
        s"doc $id: bloom flagged ${r.getAs[Long]("n_flagged")} < exact $nColl")
      if (nColl > 0) assert(r.getAs[Boolean]("is_flagged"))
    }
    // and the sketch must actually DISCRIMINATE at this filter size —
    // if everything were flagged the pre-filter would be useless
    val clean = bloom.count(r => !r.getAs[Boolean]("is_flagged"))
    assert(clean > 0, "bloom filter saturated: every doc flagged")
    // plan: the filter side must BROADCAST (the bounded-sketch
    // contract) and nothing may fall back to an all-pairs join
    val p = Dedup.bloomContamination(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"d18's probe must be a broadcast semi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d18 must never plan all-pairs:\n$p")
  }

  test("d10 mixture reconciles with the d07 removal list") {
    import org.apache.spark.sql.functions._
    val removal = Dedup.dedupPipeline(spark, TestSpark.sf)
    val mix = Dedup.effectiveMixture(spark, TestSpark.sf)
    // the mixture's removed-doc total IS the survivorship list's size —
    // both derive from the same verified-pair artifact
    assert(mix.agg(sum("n_removed")).collect().head.getLong(0) == removal.count())
    // kept never exceeds raw; shares stay in (0, 1]
    assert(mix.filter(col("tokens_kept") > col("tokens_total") ||
      col("n_removed") > col("n_docs") ||
      col("pct_tokens_kept") <= 0 || col("pct_tokens_kept") > 1).count() == 0)
  }

  test("d12 clusters are closed over the d07 removal pairs") {
    val assign = Dedup.dupClusterAssignment(spark, TestSpark.sf)
    val removal = Dedup.dedupPipeline(spark, TestSpark.sf)
    // transitivity: every (removed, kept_partner) pair from the pairwise
    // survivorship list must land in the SAME connected component
    val crossCluster = removal
      .join(assign.withColumnRenamed("doc_id", "removed_doc_id")
        .withColumnRenamed("cluster_id", "c_removed"), Seq("removed_doc_id"))
      .join(assign.withColumnRenamed("doc_id", "kept_partner")
        .withColumnRenamed("cluster_id", "c_kept"), Seq("kept_partner"))
    assert(crossCluster.count() == removal.count())
    assert(crossCluster.filter(col("c_removed") =!= col("c_kept")).count() == 0)
    // labels are the component minimum: the label itself is a member,
    // and no member is smaller
    assert(assign.filter(col("doc_id") < col("cluster_id")).count() == 0)
    assert(assign.filter(col("doc_id") === col("cluster_id")).count() ==
      assign.select("cluster_id").distinct().count())

    val report = Dedup.dupClusters(spark, TestSpark.sf)
    val rows = report.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, nPairs) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_pairs"))
      assert(nDocs >= 2 && r.getAs[Long]("n_removed") == nDocs - 1)
      // connectivity needs a spanning tree; pairs can't exceed all-pairs
      assert(nPairs >= nDocs - 1 && nPairs <= nDocs * (nDocs - 1) / 2)
      val j = r.getAs[Double]("max_jaccard")
      assert(j >= 0.5 && j <= 1.0)
      val nSources = r.getAs[Long]("n_sources")
      assert(nSources >= 1 && nSources <= nDocs)
    }
    // the report covers exactly the assigned docs
    assert(rows.map(_.getAs[Long]("n_docs")).sum == assign.count())
  }

  test("d15 keeps exactly the quality argmax of every cluster") {
    val qd = Dedup.qualityDedup(spark, TestSpark.sf).collect()
    assert(qd.nonEmpty)
    // covers exactly the d12 assignment
    assert(qd.length == Dedup.dupClusterAssignment(spark, TestSpark.sf).count())
    qd.groupBy(_.getAs[Long]("cluster_id")).foreach { case (_, rows) =>
      assert(rows.count(_.getAs[Boolean]("is_survivor")) == 1)
      assert(rows.forall(_.getAs[Long]("cluster_size") == rows.length))
      val surv = rows.find(_.getAs[Boolean]("is_survivor")).get
      // argmax by (quality desc, doc_id asc)
      val best = rows.map(r =>
        (-r.getAs[Double]("quality_score"), r.getAs[Long]("doc_id"))).min
      assert((-surv.getAs[Double]("quality_score"), surv.getAs[Long]("doc_id")) == best)
      assert(rows.forall(_.getAs[Long]("survivor_doc_id") == surv.getAs[Long]("doc_id")))
    }
  }

  test("d16 prefix filtering is lossless: equals the brute-force containment pairs") {
    val got = Dedup.containmentDedup(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[Long]("contained_doc"), r.getAs[Long]("container_doc"),
        r.getAs[Long]("inter"), r.getAs[Double]("containment"))).toSet
    // brute force over ALL pairs — no prefix filter, no candidate step
    val sets = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val t = r.getAs[String]("text").split("\\s+").filter(_.nonEmpty)
        r.getAs[Long]("doc_id") -> t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty).sortBy(_._1)
    val want = (for {
      i <- sets.indices; j <- sets.indices if i != j
      (a, sa) = sets(i); (b, sb) = sets(j)
      // orientation: a is the smaller (ties break on doc id)
      if sa.size < sb.size || (sa.size == sb.size && a < b)
      inter = (sa & sb).size
      if inter.toDouble / sa.size >= 0.8
    } yield (a, b, inter.toLong, inter.toDouble / sa.size)).toSet
    assert(want.nonEmpty)
    assert(got == want, s"missing: ${want -- got}; extra: ${got -- want}")
  }

  test("d16 verify-regime gate: boilerplate-heavy corpus forces the array path, " +
      "identical output across all three regimes") {
    import spark.implicits._
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("contained_doc"), r.getAs[Long]("container_doc"),
        r.getAs[Long]("n_sh_contained"), r.getAs[Long]("n_sh_container"),
        r.getAs[Long]("inter"), r.getAs[Double]("containment"),
        r.getAs[Double]("jaccard"), r.getAs[Boolean]("subset_only"))).toSet

    // Boilerplate-heavy inversion corpus. Every doc opens with the SAME
    // repeated-token header, giving ONE ultra-hot shingle with occ = D
    // — so the counting join generates Σocc² ≈ D² co-occurrence rows.
    // The hot token is CHOSEN (driver-side md5 search) so its shingle's
    // md5 sorts HIGH: it never lands in any doc's lowest-fifth prefix,
    // so none of those D² co-occurrences survive into the candidate
    // set — the counting join pays quadratic work for pairs the array
    // path never touches, which is exactly the inversion regime the
    // round-10 verdict flagged. Genuine containment pairs (doc 2k ⊂
    // doc 2k+1, truncations) keep the output non-trivial and LINEAR in
    // D, so the array path's cost proxy stays ~2·(D/2)·avgSet ≪ D².
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val hot = (0 to 999).map(i => s"boiler$i")
      .find(t => md5hex(s"$t $t $t") >= "e").get
    val header = Seq.fill(20)(hot).mkString(" ")
    val boiler = (0L until 300L by 2L).flatMap { k =>
      val tail = (1 to 80).map(j => s"u${k}_$j").mkString(" ")
      val more = (1 to 10).map(j => s"x${k}_$j").mkString(" ")
      Seq((k, s"$header $tail"), (k + 1, s"$header $tail $more"))
    }.toDF("doc_id", "text")
    val auto = Dedup.containmentDedupOfDocs(boiler).collect()
    assert(Dedup.lastContainmentRegime.get() == Dedup.PairArrays,
      "hot-shingle census must choose the per-pair-array verify")
    val forcedCounting =
      Dedup.containmentDedupOfDocs(boiler, Some(Dedup.CountingJoin)).collect()
    assert(key(auto) == key(forcedCounting) && auto.nonEmpty,
      "regimes must be output-identical on the boilerplate corpus")
    val forcedPairBoiler =
      Dedup.containmentDedupOfDocs(boiler, Some(Dedup.PairRestricted)).collect()
    assert(key(auto) == key(forcedPairBoiler),
      "the pair-restricted yardstick must match the array regime on the boilerplate corpus")
    // every truncated doc is contained in its extension
    val pairs = auto.map(r => (r.getAs[Long]("contained_doc"),
      r.getAs[Long]("container_doc"))).toSet
    (0L until 300L by 2L).foreach(k => assert(pairs.contains((k, k + 1))))

    // Sparse corpus (the real fixture): census picks the counting join
    // and the array path agrees exactly there too.
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val autoReal = Dedup.containmentDedupOfDocs(docs).collect()
    // The chosen regime must be the gate's own decision for the census
    // it read (gate-consistency, not a hardcoded branch: the round-15
    // prefix extension shrank the candidate slice so far that the
    // array path's cost proxy undercuts Σocc² on this fixture too —
    // before it, the sparse fixture censused CountingJoin; both
    // branches stay value-pinned by the forced-regime comparisons in
    // this test).
    val (np, nd, tt, o2) = Dedup.lastContainmentCensus.get()
    assert(Dedup.lastContainmentRegime.get() ==
      Dedup.chooseVerifyRegime(o2, np, tt, nd),
      "census regime must match the gate's decision for the measured census")
    // ...and the census itself must be sane, or the check above is
    // circular (a zeroed tuple would still agree with the gate): the
    // sparse fixture has candidate pairs and docs, and Σocc² ≥ Σocc
    // holds for any integer occurrence counts
    assert(np > 0 && nd > 0 && o2 >= tt,
      s"census (nPairs=$np, nDocs=$nd, Σocc=$tt, Σocc²=$o2) is not sane")
    val forcedArrays =
      Dedup.containmentDedupOfDocs(docs, Some(Dedup.PairArrays)).collect()
    assert(key(autoReal) == key(forcedArrays) && autoReal.nonEmpty)
    val forcedPairRestricted =
      Dedup.containmentDedupOfDocs(docs, Some(Dedup.PairRestricted)).collect()
    assert(key(autoReal) == key(forcedPairRestricted),
      "pair-restricted must match the counting regime on the raw fixture")

    // Scratch-budget degradation (round-13 verdict item 3): the sliced
    // array verify is output-identical to the one-shot array verify
    val forcedSliced =
      Dedup.containmentDedupOfDocs(boiler, Some(Dedup.SlicedArrays(3))).collect()
    assert(key(auto) == key(forcedSliced),
      "the sliced array verify must match the one-shot array regime")

    // Hot-key-salted candidate join (round 13): on the boilerplate
    // corpus the default df floor leaves the plain join (hot occ ~300
    // here); forcing the floor down makes the census salt the header
    // keys — and the candidate/pair output must be hash-identical
    assert(Dedup.lastContainmentHotKeys.get() == 0,
      "the small fixture must not trip the default hot-df floor")
    spark.conf.set("spark.graft.hot.df", "10")
    try {
      val salted = Dedup.containmentDedupOfDocs(boiler).collect()
      assert(Dedup.lastContainmentHotKeys.get() > 0,
        "forced floor must salt the header keys")
      assert(key(auto) == key(salted),
        "the salted candidate join must be output-identical")
    } finally spark.conf.unset("spark.graft.hot.df")
    spark.catalog.clearCache()
  }

  test("verify-regime gate degrades to SlicedArrays when the estimated " +
      "array-shuffle volume exceeds the scratch budget") {
    // counting wins whenever Σocc² <= 2·|pairs|·avgSet, budget ignored
    assert(Dedup.chooseVerifyRegime(100L, 1000L, 1000L, 10L) == Dedup.CountingJoin)
    // hot-shingle inversion, volume under budget: one-shot arrays
    // (2·1000·100 copies × 16 B / the LZ4 factor 8 = 0.4 MB on disk)
    assert(Dedup.chooseVerifyRegime(10000000L, 1000L, 1000L, 10L) == Dedup.PairArrays)
    // same shape with a 256 KB budget: 0.4 MB on disk → ceil(0.4/0.125)
    // = 4 slices (each slice under HALF the budget — spill head-room)
    assert(Dedup.chooseVerifyRegime(10000000L, 1000L, 1000L, 10L,
      scratchBudgetBytes = 1L << 18) == Dedup.SlicedArrays(4))
    // the d33 sf10 census shape (~1M wrapped docs × ~232 partners,
    // ~300-shingle sets → ~139 GB on disk) against the default 32 GB
    // budget degrades to ~9 slices instead of dying on scratch
    val sf10 = Dedup.chooseVerifyRegime(
      sumOcc2 = Long.MaxValue / 4, nPairs = 116000000L,
      sumOcc = 300000000L, nDocs = 1000000L)
    assert(sf10 == Dedup.SlicedArrays(9),
      s"sf10-shaped census must slice ~9 ways, got $sf10")
    // a pathological budget (1 byte) clamps at MaxSlices instead of
    // scheduling millions of sequential sub-jobs (round-13 advice)
    assert(Dedup.chooseVerifyRegime(10000000L, 1000L, 1000L, 10L,
      scratchBudgetBytes = 1L) == Dedup.SlicedArrays(Dedup.MaxSlices))
  }

  test("graft configs parse loudly and the salt fan-out tracks parallelism") {
    // malformed long config names the key and raw value (round-13
    // advice: a bare NumberFormatException from deep inside query
    // construction named neither)
    spark.conf.set("spark.graft.hot.df", "not-a-number")
    try {
      val e = intercept[IllegalArgumentException](
        Dedup.confLong(spark, "spark.graft.hot.df", 1L))
      assert(e.getMessage.contains("spark.graft.hot.df") &&
        e.getMessage.contains("not-a-number"))
    } finally spark.conf.unset("spark.graft.hot.df")
    assert(Dedup.confLong(spark, "spark.graft.hot.df", 42L) == 42L)
    // hot-salt fan-out: parallelism-driven with a 32 floor, config
    // override wins, bounded above
    assert(Dedup.hotSalts(spark) ==
      math.min(4096, math.max(32, spark.sparkContext.defaultParallelism)))
    spark.conf.set("spark.graft.hot.salts", "128")
    try assert(Dedup.hotSalts(spark) == 128)
    finally spark.conf.unset("spark.graft.hot.salts")
    spark.conf.set("spark.graft.hot.salts", "1000000")
    try assert(Dedup.hotSalts(spark) == 4096)
    finally spark.conf.unset("spark.graft.hot.salts")
  }

  test("d33/d34: the wrapped hot-shingle corpus forces the array verify in the " +
      "ORACLE row; every original is contained in its twin; spans cover the header") {
    import org.apache.spark.sql.functions.{col, size, split}
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val d33 = Dedup.hotShingleDedup(spark, TestSpark.sf).collect()
    // the derived corpus is the regime the census gate exists for: the
    // driver's oracle exercises the census-sized array branch (d16
    // keeps the counting branch on the raw fixture)
    assert(Dedup.lastContainmentRegime.get() == Dedup.PairArrays,
      "d33's census must choose the per-pair-array verify")
    val pairs = d33.map(r => (r.getAs[Long]("contained_doc"),
      r.getAs[Long]("container_doc"))).toSet
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    // every ≥3-token original ⊂ its wrapped twin at containment 1.0
    val longIds = docs.filter(size(split(col("text"), "\\s+")) >= 3)
      .select("doc_id").collect().map(_.getLong(0))
    assert(longIds.nonEmpty)
    longIds.foreach(id => assert(pairs.contains((id, id + 1000000L)), s"doc $id"))
    d33.filter(r => r.getAs[Long]("container_doc") ==
        r.getAs[Long]("contained_doc") + 1000000L)
      .foreach(r => assert(r.getAs[Double]("containment") == 1.0))

    // d34: every wrapped doc carries a duplicated span covering at least
    // the 60-token header (the hot 8-gram island), and no doc reports
    // more duplicated tokens than it has
    val d34 = Dedup.boilerplateSpans(spark, TestSpark.sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    ids.foreach { id =>
      val w = d34.get(id + 1000000L)
      assert(w.isDefined, s"wrapped doc $id missing from the span census")
      assert(w.get.getAs[Long]("dup_tokens") >= 60L,
        s"wrapped doc $id must carry the header island")
    }
    d34.values.foreach(r =>
      assert(r.getAs[Long]("dup_tokens") <= r.getAs[Long]("total_tokens")))
    spark.catalog.clearCache()
  }

  test("d13 covers every long-enough corpus doc; collisions bounded by gram counts") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val expectedRows = docs
      .filter(!col("source").isin("src0", "src1") &&
        size(split(col("text"), "\\s+")) >= 13).count()
    val report = Dedup.ngramContamination(spark, TestSpark.sf)
    assert(report.count() == expectedRows)
    report.collect().foreach { r =>
      assert(r.getAs[Long]("n_collisions") <= r.getAs[Long]("n_ngrams"))
      assert(r.getAs[Boolean]("is_contaminated") == (r.getAs[Long]("n_collisions") > 0))
      assert((r.getAs[Long]("n_bench_docs") > 0) == (r.getAs[Long]("n_collisions") > 0))
    }
    // exact-dup pairs that cross the bench boundary MUST be flagged:
    // identical text shares every 13-gram
    val flagged = report.filter(col("is_contaminated")).select("doc_id")
    val benchTexts = docs.filter(col("source").isin("src0", "src1"))
      .filter(size(split(col("text"), "\\s+")) >= 13)
      .select(col("text")).distinct()
    val exactCross = docs.filter(!col("source").isin("src0", "src1"))
      .join(benchTexts, Seq("text"), "left_semi").select("doc_id")
    assert(exactCross.join(flagged, Seq("doc_id"), "left_anti").count() == 0)

    // full differential: recompute every column from the raw texts
    val all = docs.select("doc_id", "source", "text").collect().map { r =>
      val toks = r.getString(2).split("\\s+").filter(_.nonEmpty)
      (r.getLong(0), Set("src0", "src1").contains(r.getString(1)),
        if (toks.length >= 13) toks.sliding(13).map(_.mkString(" ")).toSet
        else Set.empty[String])
    }
    val benchSets = all.filter(r => r._2 && r._3.nonEmpty).map(r => r._1 -> r._3)
    report.collect().foreach { r =>
      val g = all.find(_._1 == r.getAs[Long]("doc_id")).get._3
      val hits = benchSets.filter(_._2.exists(g.contains))
      assert(r.getAs[Long]("n_ngrams") == g.size)
      assert(r.getAs[Long]("n_collisions") ==
        g.count(x => benchSets.exists(_._2.contains(x))))
      assert(r.getAs[Long]("n_bench_docs") == hits.length)
    }
  }

  test("d14 funnel reconciles with d01, d12, and d13") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val funnel = Dedup.curationFunnel(spark, TestSpark.sf).collect()
    // per-source stages partition the docs exactly
    funnel.foreach { r =>
      assert(r.getAs[Long]("n_docs") ==
        r.getAs[Long]("n_exact_removed") + r.getAs[Long]("n_neardup_removed") +
        r.getAs[Long]("n_contaminated_survivors") + r.getAs[Long]("n_clean"))
      assert(r.getAs[Long]("tokens_clean") <= r.getAs[Long]("tokens"))
    }
    assert(funnel.map(_.getAs[Long]("n_docs")).sum == docs.count())
    // exact stage == corpus minus distinct fingerprints (d01's groups)
    assert(funnel.map(_.getAs[Long]("n_exact_removed")).sum ==
      docs.count() - Dedup.exactDedup(spark, TestSpark.sf).count())
    // near-dup stage: every removed doc is a non-representative member
    // of some d12 cluster (≤ because exact removal can claim it first)
    val assign = Dedup.dupClusterAssignment(spark, TestSpark.sf)
    val nonRep = assign.filter(col("doc_id") =!= col("cluster_id")).count()
    assert(funnel.map(_.getAs[Long]("n_neardup_removed")).sum <= nonRep)
    // contaminated survivors never exceed d13's flagged set
    val d13 = Dedup.ngramContamination(spark, TestSpark.sf)
      .filter(col("is_contaminated")).count()
    assert(funnel.map(_.getAs[Long]("n_contaminated_survivors")).sum <= d13)
  }

  test("connectedComponents matches a driver-side union-find on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(20260812L)
    for (_ <- 1 to 5) {
      val n = 30 + rng.nextInt(30)
      // a mix of short chain segments, random cross edges, and a star —
      // cycles, merges, and isolated pairs all occur across seeds
      val chain = (0 until n).sliding(2).collect {
        case Seq(a, b) if rng.nextBoolean() => (a.toLong, b.toLong)
      }.toSeq
      val cross = Seq.fill(n / 2)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      val hub = rng.nextInt(n).toLong
      val star = Seq.fill(4)((hub, rng.nextInt(n).toLong)).filter(p => p._1 != p._2)
      val edges = chain ++ cross ++ star

      // reference: union-find with path compression, labels = min member
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(x => x -> find(x)).toMap

      val got = Dedup.connectedComponents(edges.toDF("a", "b"), maxHops = 200)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"n=$n edges=$edges")
    }
    spark.catalog.clearCache()
  }

  test("connectedComponents converges on a deep chain within the default hop guard") {
    import spark.implicits._
    // a 60-node path has diameter 59: plain min-label propagation needs
    // 59 hops and would trip the default 25-hop abort; pointer doubling
    // must close it in O(log diameter) hops — every node labels to 0
    val edges = (0L until 59L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges) // default maxHops = 25
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 59L).map(_ -> 0L).toMap)
    spark.catalog.clearCache()
  }

  test("d20 survivorship reconciles with the d17 pair artifact") {
    val pairs = Dedup.simhashPairs(spark, TestSpark.sf)
      .filter(col("is_near_dup")).collect()
    val roll = Dedup.simhashDedup(spark, TestSpark.sf).collect()
    assert(roll.nonEmpty)
    val byB = pairs.groupBy(_.getAs[Long]("doc_b"))
    assert(roll.map(_.getAs[Long]("removed_doc_id")).toSet == byB.keySet)
    roll.foreach { r =>
      val grp = byB(r.getAs[Long]("removed_doc_id"))
      assert(r.getAs[Long]("n_dup_pairs") == grp.size)
      assert(r.getAs[Long]("kept_partner") == grp.map(_.getAs[Long]("doc_a")).min)
      assert(r.getAs[Long]("min_hamming_dist") ==
        grp.map(_.getAs[Long]("hamming_dist")).min)
    }
  }

  test("d21 route union reconciles with the d07 and d20 removal lists") {
    val union = Dedup.dedupRouteUnion(spark, TestSpark.sf).collect()
    val jIds = Dedup.dedupPipeline(spark, TestSpark.sf).collect()
      .map(_.getAs[Long]("removed_doc_id")).toSet
    val sIds = Dedup.simhashDedup(spark, TestSpark.sf).collect()
      .map(_.getAs[Long]("removed_doc_id")).toSet
    assert(union.map(_.getAs[Long]("removed_doc_id")).toSet == (jIds ++ sIds))
    union.foreach { r =>
      val id = r.getAs[Long]("removed_doc_id")
      assert(r.getAs[Boolean]("by_jaccard") == jIds.contains(id), s"doc $id jaccard flag")
      assert(r.getAs[Boolean]("by_simhash") == sIds.contains(id), s"doc $id simhash flag")
      assert(r.getAs[Long]("kept_partner") < id, s"doc $id keep-min violated")
    }
    // both routes must contribute uniquely on this corpus, or the union
    // is vacuous as a demonstration
    assert(union.exists(r => r.getAs[Boolean]("by_jaccard") && !r.getAs[Boolean]("by_simhash")))
    assert(union.exists(r => r.getAs[Boolean]("by_simhash") && !r.getAs[Boolean]("by_jaccard")))
  }

  test("calibSample: partition-invariant, budget-bounded, keeps dup pairs together") {
    import spark.implicits._
    // amplify the corpus past the budget so the LIMIT actually binds:
    // each doc twice under distinct ids (a perfect dup pair per doc)
    val base = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("lang"), col("text"))
    val both = base.select((col("doc_id") * 2).as("doc_id"), col("lang"), col("text"))
      .unionAll(base.select((col("doc_id") * 2 + 1).as("doc_id"), col("lang"), col("text")))
    def ids(df: org.apache.spark.sql.DataFrame) =
      Dedup.calibSample(df).select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids(both.repartition(1))
    val b = ids(both.repartition(32, col("doc_id")))
    // the bottom-k-by-hash selection is a TOTAL order (hash, doc_id), so
    // the sample is identical at any physical layout — the determinism
    // the oracle's ORDER BY ... LIMIT replay depends on
    assert(a == b, "sample must not depend on partitioning")
    assert(a.size == Dedup.CalibDocBudget, "limit must bind on the amplified corpus")
    // CONSISTENT sampling: a doc and its perfect dup share their min
    // shingle hash exactly, so they enter/leave the sample TOGETHER
    // (modulo the budget boundary cutting between the tie's two ids —
    // at most one straddling pair)
    val straddling = a.count(id => !a.contains(id ^ 1L))
    assert(straddling <= 1, s"dup pairs must co-sample, $straddling split")
  }

  test("d24 calibration reconciles with d02, and high-J buckets recall near 1") {
    val cal = Dedup.lshCalibration(spark, TestSpark.sf).collect()
      .map(r => r.getAs[Long]("j_bucket") -> r).toMap
    assert(cal.nonEmpty)
    // the calibration leg runs on the deterministic fixed-budget doc
    // sample — reconcile against the identical sampled pair frame
    val nExact = Dedup.ngramJaccardOf(Dedup.calibSample(
      graft.sources.Tables.documents(spark, TestSpark.sf))).count()
    assert(cal.values.map(_.getAs[Long]("n_true_pairs")).sum == nExact)
    cal.foreach { case (b, r) =>
      assert(b >= 2 && b <= 9) // d02's floor is J >= 0.2
      val (nt, nc) = (r.getAs[Long]("n_true_pairs"), r.getAs[Long]("n_caught"))
      assert(nc <= nt && nt > 0)
      assert(r.getAs[Double]("lsh_recall") == nc.toDouble / nt)
      if (nc > 0) assert(r.getAs[Double]("avg_bands_caught") <= 6.0)
      // theory columns recompute exactly driver-side
      val mid = (b + 0.5) / 10.0
      val p3 = mid * mid * mid
      val q3 = (1.0 - p3) * (1.0 - p3) * (1.0 - p3)
      assert(r.getAs[Double]("j_mid") == mid)
      assert(r.getAs[Double]("expected_bands") == 6.0 * p3)
      assert(r.getAs[Double]("theoretical_recall") == 1.0 - q3 * q3)
      // the 6x3 banding's own pinned property: near-identical pairs
      // (J >= 0.8) must be caught at ~theory (>= 0.99 there)
      if (b >= 8) assert(r.getAs[Double]("lsh_recall") >= 0.9,
        s"bucket $b recall ${r.getAs[Double]("lsh_recall")}")
    }
    spark.catalog.clearCache()
  }

  test("d25 training corpus == non-bench docs minus d21 removals minus d13 contamination") {
    val corpus = Dedup.trainingCorpus(spark, TestSpark.sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("source"), r.getAs[String]("split"))).toMap
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val nonBench = docs.filter { case (_, s) => s != "src0" && s != "src1" }.keySet
    val removed = Dedup.dedupRouteUnion(spark, TestSpark.sf)
      .select("removed_doc_id").collect().map(_.getLong(0)).toSet
    val contaminated = Dedup.ngramContamination(spark, TestSpark.sf)
      .filter(col("is_contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(corpus.keySet == nonBench -- removed -- contaminated,
      s"extra=${(corpus.keySet -- (nonBench -- removed -- contaminated)).take(3)} " +
        s"missing=${((nonBench -- removed -- contaminated) -- corpus.keySet).take(3)}")
    // gates actually bit on this corpus, and the stamp matches t15
    assert(corpus.size < nonBench.size)
    val splits = graft.operators.TextAnalysis.hashSplit(spark, TestSpark.sf)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    corpus.foreach { case (id, (s, split)) =>
      assert(s != "src0" && s != "src1")
      assert(split == splits(id))
    }
    spark.catalog.clearCache()
  }

  test("d19 shard-incremental keep-set == full-rebuild keep-set on a split corpus") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val isShard = pmod(col("doc_id"), lit(5L)) === 4
    // full rebuild over everything vs standing-index removals over the
    // held-out corpus plus the shard probe's incremental removals
    val full = Dedup.removalSetOf(docs)
      .collect().map(_.getLong(0)).toSet
    val standing = Dedup.removalSetOf(docs.filter(!isShard))
      .collect().map(_.getLong(0)).toSet
    val probe = Dedup.shardDedup(spark, TestSpark.sf).collect()
    val incRemoved = probe.map(_.getAs[Long]("removed_doc_id")).toSet
    assert(standing.subsetOf(full),
      "standing-corpus removals must be a subset of the full rebuild's")
    assert((standing ++ incRemoved) == full,
      s"incremental != rebuild: extra=${(standing ++ incRemoved) -- full} " +
        s"missing=${full -- (standing ++ incRemoved)}")
    // both directions of keep-min must occur in a near-dup-dense corpus:
    // shard docs removed against the corpus AND retro-removed corpus docs
    assert(probe.exists(_.getAs[Boolean]("is_shard_doc")))
    assert(probe.exists(!_.getAs[Boolean]("is_shard_doc")))
    // every report row names a real partner with a verified-strength match
    probe.foreach { r =>
      assert(r.getAs[Long]("kept_partner") < r.getAs[Long]("removed_doc_id"))
      assert(r.getAs[Double]("max_jaccard") >= 0.5)
    }
    spark.catalog.clearCache()
  }

  test("substring dedup finds the exact shared span and merges its grams") {
    import spark.implicits._
    // doc 2 embeds doc 1's 10-token prefix at positions 3..12; doc 3 is
    // disjoint vocabulary — the merged span must be exactly the shared
    // run, not the per-gram fragments (3 overlapping 8-grams -> 1 span)
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "x y a b c d e f g h i j z w q r"),
      (3L, "p0 p1 p2 p3 p4 p5 p6 p7 p8 p9 pa pb pc pd")
    ).toDF("doc_id", "text")
    val got = Dedup.substringDedupOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("total_tokens"), r.getAs[Long]("n_dup_spans"),
          r.getAs[Long]("dup_tokens"), r.getAs[Double]("dup_frac"))).toMap
    assert(got.keySet == Set(1L, 2L), s"unexpected docs: ${got.keySet}")
    assert(got(1L) == ((12L, 1L, 10L, 10.0 / 12.0)))
    assert(got(2L) == ((16L, 1L, 10L, 10.0 / 16.0)))
  }

  test("substring scrub removes every occurrence but the globally first") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "x y a b c d e f g h i j z w q r"),
      (3L, "p0 p1 p2 p3 p4 p5 p6 p7 p8 p9 pa pb pc pd")
    ).toDF("doc_id", "text")
    val got = Dedup.substringScrubOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens_before"), r.getAs[Long]("n_tokens_after"),
          r.getAs[Long]("n_removed_tokens"), r.getAs[String]("scrubbed_text"))).toMap
    // doc 1 holds the first occurrences -> untouched, absent from the delta
    assert(got.keySet == Set(2L))
    assert(got(2L) == ((16L, 6L, 10L, "x y z w q r")))
  }

  test("span contamination localizes the leaked benchmark span, train-only repeats stay clean") {
    import spark.implicits._
    // train doc 10 embeds bench doc 1's 10-token run at positions 4..13;
    // train docs 11/12 share a 9-token run with EACH OTHER only — d28
    // would flag them, decontamination must not
    val docs = Seq(
      (1L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 tail1", "src0"),
      (10L, "w x y b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 z", "src2"),
      (11L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 end1", "src3"),
      (12L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 end2", "src4")
    ).toDF("doc_id", "text", "source")
    val got = Dedup.spanContaminationOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("total_tokens"), r.getAs[Long]("n_contam_spans"),
          r.getAs[Long]("contam_tokens"))).toMap
    assert(got.keySet == Set(10L), s"wrong contaminated set: ${got.keySet}")
    // grams at positions 4..6 of doc 10 hit bench grams -> span [4, 13]
    assert(got(10L) == ((14L, 1L, 10L)))
  }

  test("substring scrub is consistent with the census on the corpus") {
    val census = Dedup.substringDedup(spark, TestSpark.sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_tokens")).toMap
    assert(census.nonEmpty, "corpus should contain duplicated spans")
    census.foreach { case (_, dupToks) => assert(dupToks >= 8L) }
    val scrub = Dedup.substringScrub(spark, TestSpark.sf).collect()
    assert(scrub.nonEmpty)
    scrub.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // removed spans are a subset of duplicated spans: every scrubbed
      // doc is in the census and never loses more than its dup coverage
      assert(census.contains(id), s"doc $id scrubbed but not in census")
      assert(r.getAs[Long]("n_removed_tokens") <= census(id))
      assert(r.getAs[Long]("n_tokens_after") ==
        r.getAs[Long]("n_tokens_before") - r.getAs[Long]("n_removed_tokens"))
      // rebuilt text token count matches the reported count
      val n = r.getAs[String]("scrubbed_text").split("\\s+").count(_.nonEmpty)
      assert(n == r.getAs[Long]("n_tokens_after"))
    }
  }

  test("d32 snapshot drift matches an exact driver-side replay") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    val docs = (1L to 300L).map { id =>
      (id, s"s${rnd.nextInt(4)}", Seq.fill(3 + rnd.nextInt(20))("w").mkString(" "))
    }
    val got = Dedup.snapshotDriftOf(docs.toDF("doc_id", "source", "text"))
      .collect().map(r => r.getString(0) -> r).toMap

    def toks(t: String) = t.split("\\s+").count(_.nonEmpty).toLong
    val old = docs.filter(_._1 % 7 != 0)
    val nw = docs.filter(_._1 % 5 != 1)
    val srcs = docs.map(_._2).distinct
    val (oT, nT) = (old.size.toLong, nw.size.toLong)
    val rows = srcs.map { s =>
      val o = old.filter(_._2 == s)
      val n = nw.filter(_._2 == s)
      val oD = o.size.toLong; val nD = n.size.toLong
      val oTok = o.map(d => toks(d._3)).sum
      val nTok = n.map(d => toks(d._3) + (if (d._1 % 11 == 3) 1 else 0)).sum
      val (oS, nS) = (1000 * oD / oT, 1000 * nD / nT)
      (s, oD, nD, oTok, nTok, oS, nS, math.abs(oS - nS),
        if (oD == 0) 0L else 1000 * oTok / oD,
        if (nD == 0) 0L else 1000 * nTok / nD)
    }
    val tv = rows.map(_._8).sum / 2
    assert(got.keySet == srcs.toSet)
    for ((s, oD, nD, oTok, nTok, oS, nS, dS, oM, nM) <- rows) {
      val r = got(s)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) == ((oD, nD, oTok, nTok)), s"$s counts")
      assert((r.getLong(5), r.getLong(6), r.getLong(7)) == ((oS, nS, dS)), s"$s shares")
      assert((r.getLong(8), r.getLong(9)) == ((oM, nM)), s"$s means")
      assert(r.getLong(10) == math.abs(oM - nM), s"$s mean delta")
      assert(r.getLong(11) == tv, s"$s tv")
    }
  }

  test("prefix extension is lossless: k=1 and k=8 candidate generation " +
      "yield identical containment output, including docs shorter than k") {
    import spark.implicits._
    // Corpus exercising the extension's edges: tiny docs whose shingle
    // count n is BELOW the extension (the count bound must fall back to
    // min(k, n−⌊n/5⌋)), exact subsets, truncations, and unrelated text.
    val docs = ((1L to 40L).map { k =>
      val tail = (1 to (3 + (k % 9)).toInt).map(j => s"w${k}_$j").mkString(" ")
      (k, s"base$k $tail")
    } ++ (1L to 40L).map { k =>
      val tail = (1 to (3 + (k % 9)).toInt).map(j => s"w${k}_$j").mkString(" ")
      (k + 1000L, s"base$k $tail extra${k}_a extra${k}_b extra${k}_c")
    } ++ Seq((5000L, "tiny doc here"), (5001L, "tiny doc here and more"),
      (5002L, "a b c d"), (5003L, "a b c d e f g h i j k l m n o p")))
      .toDF("doc_id", "text")
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("contained_doc"), r.getAs[Long]("container_doc"),
        r.getAs[Long]("inter"), r.getAs[Double]("containment"))).toSet
    def runAt(k: Long) = {
      spark.conf.set("spark.graft.prefix.ext", k.toString)
      try Dedup.containmentDedupOfDocs(docs).collect()
      finally spark.conf.unset("spark.graft.prefix.ext")
    }
    val k1 = runAt(1L)
    val k8 = runAt(8L)
    assert(k1.nonEmpty, "fixture must produce containment pairs")
    assert(key(k1) == key(k8),
      "prefix-extension pruning must not change the verified pair set")
    // the tiny exact-prefix pair must be present under both
    assert(key(k8).exists(t => t._1 == 5000L && t._2 == 5001L))
    spark.catalog.clearCache()
  }
}
