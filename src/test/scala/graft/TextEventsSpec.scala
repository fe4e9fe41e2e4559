package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Events, TextAnalysis}

class TextEventsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("e10 bucketed interval join equals the naive range join; zero-click purchases kept") {
    val e = spark.read.parquet(s"${TestSpark.sf}/events.parquet")
    // naive oracle plan: equi-join on user alone, range filter after —
    // correct but per-user quadratic (what e10's compound key avoids)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"),
        unix_timestamp(col("ts")).as("p_epoch"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"),
        unix_timestamp(col("ts")).as("c_epoch"))
    val naive = p.join(c,
        p("user_id") === c("user_id") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"), "left")
      .groupBy(p("user_id").as("user_id"), col("event_id"), col("p_epoch"))
      .agg(sum(when(col("c_ts").isNotNull, 1L).otherwise(0L)).as("n_naive"),
        min(col("p_epoch") - col("c_epoch")).as("gap_naive"))
    val got = Events.clickAttribution(spark, TestSpark.sf)
    assert(got.count() == p.count()) // every purchase exactly once
    val cmp = got.join(naive, Seq("event_id"))
    assert(cmp.count() == got.count())
    assert(cmp.filter(col("n_clicks_1h") =!= col("n_naive")).count() == 0)
    assert(cmp.filter(
      coalesce(col("last_gap_sec"), lit(-1L)) =!=
        coalesce(col("gap_naive"), lit(-1L))).count() == 0)
    // the zero-click branch is exercised and carries a null gap
    assert(got.filter(col("n_clicks_1h") === 0L &&
      col("last_gap_sec").isNull).count() > 0)
    assert(got.filter(col("n_clicks_1h") === 0L &&
      col("last_gap_sec").isNotNull).count() == 0)
  }

  test("e11 user skew: Gini and census match an exact driver-side replay on skewed data") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    for (_ <- 1 to 3) {
      // Zipf-ish: user u gets ~ceil(200/u) events — real heavy-tail skew
      val events = (1L to 40L).flatMap { u =>
        Seq.fill(1 + (200.0 / u).toInt + rnd.nextInt(3))(u)
      }
      val df = events.zipWithIndex
        .map { case (u, i) => (i.toLong, u) }.toDF("event_id", "user_id")
      val row = Events.userSkewOf(df).collect()(0)

      val counts = events.groupBy(identity).view.mapValues(_.size.toLong).values.toSeq
      val n = counts.size.toLong
      val t = counts.sum
      // exact tie-group rank sum: ranks ascending by count value
      val srank = counts.groupBy(identity).toSeq.sortBy(_._1)
        .foldLeft((0L, 0L)) { case ((cumf, acc), (v, g)) =>
          val f = g.size.toLong
          (cumf + f, acc + v * (cumf * f + f * (f + 1) / 2))
        }._2
      val gini = math.floor(1000.0 * (2 * srank - (n + 1) * t).toDouble
        / (n * t).toDouble).toLong
      assert(row.getAs[Long]("n_keys") == n)
      assert(row.getAs[Long]("total_events") == t)
      assert(row.getAs[Long]("max_cnt") == counts.max)
      assert(row.getAs[Long]("skew_ratio_permille") == 1000 * counts.max * n / t)
      assert(row.getAs[Long]("gini_permille") == gini, "Gini (bit-exact)")
      // heavy-tail data must actually read as skewed
      assert(row.getAs[Long]("gini_permille") > 300)
    }
  }

  test("t20 alpha mixture: smallest source keeps all, rates replay sqrt form, monotone") {
    val rows = TextAnalysis.alphaMixture(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    val minTok = rows.map(_.getAs[Long]("tokens_total")).min
    rows.foreach { r =>
      val (tot, rate) = (r.getAs[Long]("tokens_total"), r.getAs[Long]("rate_permille"))
      // driver-side replay of the four-rounding rate
      val expect = math.max(1L, math.min(1000L,
        math.floor(1000.0 * math.sqrt(minTok.toDouble / tot.toDouble)).toLong))
      assert(rate == expect, s"${r.getAs[String]("source")}: $rate vs $expect")
      assert(r.getAs[Long]("n_sampled") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("tokens_sampled") <= tot)
    }
    // the smallest source keeps everything; rates never increase with size
    val bySize = rows.sortBy(_.getAs[Long]("tokens_total"))
    assert(bySize.head.getAs[Long]("rate_permille") == 1000L)
    bySize.map(_.getAs[Long]("rate_permille")).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a >= b); case _ => ()
    }
  }

  /** Driver-side t22 reference: exact string-keyed bigram statistics
    * (no hashing — at spec scale the 60-bit md5 prefixes are
    * collision-free, so the engine must match the unhashed truth).
    */
  private def referenceLm(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long)] = {
    val toks = docs.map { case (id, txt) =>
      id -> txt.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    }
    val occ = toks.flatMap { case (id, t) =>
      t.sliding(2).filter(_.length == 2).map(p => (id, p.head, (p.head, p(1))))
    }
    val c12 = occ.groupBy(_._3).map { case (k, v) => k -> v.size.toLong }
    val c1 = occ.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    toks.filter(_._2.length >= 2).map { case (id, t) =>
      val bgs = t.sliding(2).filter(_.length == 2).toSeq.map(p => (p.head, (p.head, p(1))))
      val n = bgs.size.toLong
      val sumP = bgs.map { case (u, b) => (1000000L * c12(b)) / c1(u) }.sum
      val novel = bgs.count { case (_, b) => c12(b) == 1L }.toLong
      id -> (n, sumP / n, novel)
    }.toMap
  }

  test("t22 bigram LM score matches an exact string-keyed reference") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the hat"),
      (3L, "The CAT sat"),            // case folds into the same stats
      (4L, "zq"),                      // 1 token: no bigrams, excluded
      (5L, "entirely novel gibberish tokens here"),
      (6L, "the the the the"))         // intra-doc repeats count per occurrence
    val got = TextAnalysis.bigramLmScoreOf(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("lm_score_fp"), r.getAs[Long]("n_novel")))
      .toMap
    val want = referenceLm(docs)
    assert(got == want, s"$got vs $want")
    assert(!got.contains(4L))
    // conditional-probability semantics: a corpus-unique prefix is
    // perfectly predictable (c12 = c1 = 1 ⇒ P = 1), so the all-novel
    // doc scores EXACTLY 1.0 — rarity lives in the novelty column
    assert(got(5L)._2 == 1000000L)
    assert(got(5L)._3 == got(5L)._1) // every bigram in doc 5 is corpus-unique
    // docs 1/2/3/6 share their transitions with each other ⇒ their
    // "the"-prefixed bigrams split the prefix mass and score < 1
    Seq(1L, 2L, 3L, 6L).foreach(k => assert(got(k)._2 < 1000000L, s"doc $k: ${got(k)}"))
    // doc 6's repeated "the the" is one of 3 branches of an 8-way
    // prefix: exactly 3/8 of the mass, seen 3 times
    assert(got(6L)._2 == 375000L)
  }

  test("t22 on the corpus: scores in range, novel_frac consistent") {
    val rows = TextAnalysis.bigramLmScore(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_bigrams")
      val fp = r.getAs[Long]("lm_score_fp")
      val novel = r.getAs[Long]("n_novel")
      assert(n >= 1)
      // every conditional prob is in (0, 1]: c12 ≤ c1 always
      assert(fp >= 0 && fp <= 1000000L, s"score out of range: $fp")
      assert(novel >= 0 && novel <= n)
      assert(math.abs(r.getAs[Double]("novel_frac") - novel.toDouble / n) < 1e-12)
    }
  }

  test("t21 chunking: boundaries, coverage, and overlap reconstruction are exact") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 12).map(i => s"a$i").mkString(" ")),   // under budget: 1 chunk
      (2L, (1 to 40).map(i => s"b$i").mkString(" ")),   // exactly the budget
      (3L, (1 to 41).map(i => s"c$i").mkString(" ")),   // one token over: 2 chunks
      (4L, (1 to 100).map(i => s"d$i").mkString(" "))   // multi-chunk
    ).toDF("doc_id", "text")
    val byDoc = TextAnalysis.chunkDocumentsOf(docs).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc(1L).length == 1 && byDoc(1L).head.getAs[Long]("n_chunk_tokens") == 12)
    assert(byDoc(2L).length == 1 && byDoc(2L).head.getAs[Long]("n_chunk_tokens") == 40)
    // 41 tokens: chunk0 = [1..40], chunk1 = [33..41] (9 tokens, 8 overlap)
    val d3 = byDoc(3L).sortBy(_.getAs[Long]("chunk_id"))
    assert(d3.map(r => (r.getAs[Long]("chunk_start"), r.getAs[Long]("n_chunk_tokens"))).toSeq ==
      Seq((1L, 40L), (33L, 9L)))
    // 100 tokens: starts 1, 33, 65, (97? ceil(60/32)=2 -> K=2) last end must hit 100
    val d4 = byDoc(4L).sortBy(_.getAs[Long]("chunk_id"))
    assert(d4.map(_.getAs[Long]("chunk_start")).toSeq == Seq(1L, 33L, 65L))
    assert(d4.last.getAs[Long]("chunk_start") + d4.last.getAs[Long]("n_chunk_tokens") - 1 == 100)
    // every chunk's text reconstructs its token slice; full coverage
    byDoc.values.flatten.foreach { r =>
      val toks = r.getAs[String]("chunk_text").split(" ")
      assert(toks.length == r.getAs[Long]("n_chunk_tokens"))
    }
  }

  test("t21 chunking covers the corpus with no shuffle in the plan") {
    val chunks = TextAnalysis.chunkDocuments(spark, TestSpark.sf)
    // zero exchanges: the chunker must stay a scan-side map
    val plan = chunks.queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, s"chunker plans a shuffle:\n$plan")
    val rows = chunks.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("chunk_start") == r.getAs[Long]("chunk_id") * 32 + 1)
      val n = r.getAs[Long]("n_chunk_tokens")
      assert(n >= 1 && n <= 40)
    }
  }

  test("token counts: bpe-ish >= whitespace tokens, ratios sane") {
    TextAnalysis.tokenCount(spark, TestSpark.sf).collect().foreach { r =>
      assert(r.getAs[Long]("bpe_ish_tokens") >= r.getAs[Long]("ws_tokens"))
      assert(r.getAs[Double]("chars_per_token") > 0)
    }
  }

  test("quality score is in [0, 1]") {
    val bad = TextAnalysis.qualityScore(spark, TestSpark.sf)
      .filter(col("quality_score") < 0 || col("quality_score") > 1).count()
    assert(bad == 0)
  }

  test("t07 prunes about a quarter of each language, never more than half") {
    val prune = TextAnalysis.qualityPrune(spark, TestSpark.sf)
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    assert(prune.count() == docs.count())
    // scores agree with t02 bit-for-bit (shared scoring base)
    val joined = prune.select(col("doc_id"), col("quality_score").as("p_score"))
      .join(TextAnalysis.qualityScore(spark, TestSpark.sf)
        .select(col("doc_id"), col("quality_score")), Seq("doc_id"))
    assert(joined.filter(col("p_score") =!= col("quality_score")).count() == 0)
    // a p25 cut keeps at least half and at most all-but-one per language
    // (ties can push the kept share above 75%)
    prune.groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_kept"), 1L).otherwise(0L)).as("kept"))
      .collect().foreach { r =>
        val (n, kept) = (r.getAs[Long]("n"), r.getAs[Long]("kept"))
        assert(kept >= n / 2 && kept < n, s"lang ${r.getAs[String]("lang")}: $kept/$n")
      }
    // the flag is exactly the threshold comparison
    assert(prune.filter(col("is_kept") =!= (col("quality_score") >= col("lang_p25")))
      .count() == 0)
  }

  test("t08 fills each source budget greedily: under budget, maximal, deterministic") {
    import graft.operators.TextAnalysis
    val s = TextAnalysis.tokenBudgetSample(spark, TestSpark.sf).collect()
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet").count()
    assert(s.length == docs)
    def md5hex(x: String) =
      java.security.MessageDigest.getInstance("MD5").digest(x.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    s.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      val budget = rows.head.getAs[Long]("budget")
      val inOrder = rows.sortBy(r =>
        (md5hex(r.getAs[Long]("doc_id").toString), r.getAs[Long]("doc_id")))
      val keptTokens = inOrder.filter(_.getAs[Boolean]("is_sampled"))
        .map(_.getAs[Long]("n_tokens")).sum
      assert(keptTokens <= budget)
      // greedy prefix: sampled docs are EXACTLY the longest hash-order
      // prefix that fits — which also proves maximality
      var cum = 0L
      inOrder.foreach { r =>
        cum += r.getAs[Long]("n_tokens")
        assert(r.getAs[Boolean]("is_sampled") == (cum <= budget))
      }
    }
    // re-run selects the identical sample (RNG-free)
    val again = TextAnalysis.tokenBudgetSample(spark, TestSpark.sf).collect()
    assert(s.map(r => (r.getLong(0), r.getBoolean(4))).sortBy(_._1).toSeq ==
      again.map(r => (r.getLong(0), r.getBoolean(4))).sortBy(_._1).toSeq)
  }

  test("t06 repetition stats match a driver-side recomputation") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val stats = TextAnalysis.repetitionStats(spark, TestSpark.sf)
    assert(stats.count() == docs.count())
    stats.collect().foreach { r =>
      assert(r.getAs[Long]("n_distinct_words") <= r.getAs[Long]("n_words"))
      val dw = r.getAs[Double]("dup_word_frac")
      val tb = r.getAs[Double]("top_bigram_char_frac")
      val db = r.getAs[Double]("dup_bigram_frac")
      assert(dw >= 0 && dw < 1 && tb > 0 && tb < 1 && db >= 0 && db < 1)
      // the max-count bigram repeats iff ANY bigram repeats
      assert((r.getAs[Long]("top_bigram_count") > 1) == (db > 0))
      assert(r.getAs[Boolean]("passes_repetition_filter") == (dw <= 0.85 && tb <= 0.20))
    }
    // full differential on EVERY doc: recompute every column in plain Scala
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    stats.collect().foreach { row =>
      val text = texts(row.getAs[Long]("doc_id"))
      val w = text.split("\\s+").filter(_.nonEmpty)
      val bi = w.sliding(2).map(_.mkString(" ")).toSeq
      val counts = bi.groupBy(identity).view.mapValues(_.size)
      val (topBigram, topCnt) = counts.toSeq.maxBy { case (b, c) => (c, b) }
      assert(row.getAs[Long]("n_words") == w.length)
      assert(row.getAs[Long]("n_distinct_words") == w.distinct.length)
      assert(row.getAs[Double]("dup_word_frac") ==
        1.0 - w.distinct.length.toDouble / w.length)
      assert(row.getAs[String]("top_bigram") == topBigram, s"doc ${row.getLong(0)}")
      assert(row.getAs[Long]("top_bigram_count") == topCnt)
      assert(row.getAs[Double]("top_bigram_char_frac") ==
        topCnt.toLong * topBigram.length / text.length.toDouble)
      val dupOcc = counts.values.filter(_ > 1).sum
      assert(row.getAs[Double]("dup_bigram_frac") == dupOcc.toDouble / bi.size)
    }
  }

  test("t09 tf-idf: ranks contiguous per doc, scores exact and non-increasing") {
    val kw = TextAnalysis.tfidfKeywords(spark, TestSpark.sf).collect()
    val nDocs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet").count()
    kw.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("kw_rank")).toSeq
      assert(sorted.map(_.getAs[Long]("kw_rank")) == (1L to sorted.length))
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b })
    }
    kw.foreach { r =>
      assert(r.getAs[Double]("score") ==
        (r.getAs[Long]("tf") * nDocs).toDouble / r.getAs[Long]("df"))
    }
  }

  test("t10 vocab coverage: ranks contiguous, counts monotone, coverage ends at 1") {
    val v = TextAnalysis.vocabCoverage(spark, TestSpark.sf)
      .orderBy("freq_rank").collect()
    assert(v.map(_.getAs[Long]("freq_rank")).toSeq == (1L to v.length))
    val occ = v.map(_.getAs[Long]("occurrences")).toSeq
    assert(occ.zip(occ.drop(1)).forall { case (a, b) => a >= b })
    assert(math.abs(v.last.getAs[Double]("cum_share") - 1.0) < 1e-12)
    assert(math.abs(v.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
    assert(v.forall(r => r.getAs[Long]("doc_freq") <= r.getAs[Long]("occurrences")))
  }

  test("e06 rolling actives: dau <= wau <= mau, ramp-in collapses, dau exact") {
    val r = Events.rollingActiveUsers(spark, TestSpark.sf)
      .orderBy("activity_date").collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Long]("dau") <= row.getAs[Long]("wau"))
      assert(row.getAs[Long]("wau") <= row.getAs[Long]("mau"))
    }
    // the first active day's trailing windows contain only itself
    assert(r.head.getAs[Long]("dau") == r.head.getAs[Long]("mau"))
    val direct = graft.sources.Tables.events(spark, TestSpark.sf)
      .select(to_date(col("ts")).as("activity_date"), col("user_id")).distinct()
      .groupBy("activity_date").agg(countDistinct(col("user_id")).as("n"))
      .collect()
      .map(x => x.getAs[java.sql.Date]("activity_date") -> x.getAs[Long]("n")).toMap
    r.foreach { row =>
      assert(row.getAs[Long]("dau") == direct(row.getAs[java.sql.Date]("activity_date")))
    }
  }

  test("e13 register parity: per-day sketches merged by max == direct window " +
      "build; estimates track exact e06 within HLL error") {
    val e = graft.sources.Tables.events(spark, TestSpark.sf)
    val approx = Events.rollingActiveHllOf(e).collect()
      .map(r => r.getAs[java.sql.Date]("activity_date") -> r).toMap
    assert(approx.nonEmpty)
    // DIRECT window registers: hash every (window-day, user) membership
    // and build each window's registers from scratch — the merge-by-max
    // day-register path must reproduce them exactly (associativity of
    // bucket-wise max, the s05 property on the rolling-window geometry)
    val perDay = e.select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      .collect().map(r => r.getAs[java.sql.Date]("d").toLocalDate -> r.getAs[Long]("user_id"))
    val days = perDay.map(_._1).distinct.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def estimate(users: Set[Long]): Double = {
      val regs = new Array[Int](256)
      users.foreach { u =>
        val h = h60(u.toString)
        val (b, w) = ((h % 256).toInt, h / 256)
        val rank = if (w == 0) 53 else 53 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        if (rank > regs(b)) regs(b) = rank
      }
      val nz = regs.count(_ > 0)
      val s = regs.map(r => 1L << (53 - r)).sum // zero regs contribute 2^53
      val alpha = 0.7213 / (1.0 + 1.079 / 256)
      val raw = alpha * (256.0 * 256 * (1L << 53).toDouble) / s.toDouble
      if (256 - nz > 0 && raw <= 2.5 * 256)
        256 * math.log(256.0 / (256 - nz))
      else raw
    }
    days.foreach { d =>
      val row = approx(java.sql.Date.valueOf(d))
      def win(n: Int): Set[Long] =
        perDay.filter { case (dd, _) =>
          !dd.isAfter(d) && dd.isAfter(d.minusDays(n.toLong)) }.map(_._2).toSet
      assert(row.getAs[Double]("dau_hll") == estimate(win(1)), s"dau@$d")
      assert(row.getAs[Double]("wau_hll") == estimate(win(7)), s"wau@$d")
      assert(row.getAs[Double]("mau_hll") == estimate(win(30)), s"mau@$d")
    }
    // estimates track the exact triple within HLL error (rse ≈ 6.5% at
    // m=256; allow 4σ)
    val exact = Events.rollingActiveUsers(spark, TestSpark.sf).collect()
      .map(r => r.getAs[java.sql.Date]("activity_date") -> r).toMap
    exact.foreach { case (d, ex) =>
      val ap = approx(d)
      Seq(("dau", "dau_hll"), ("wau", "wau_hll"), ("mau", "mau_hll")).foreach {
        case (ec, ac) =>
          val (ev, av) = (ex.getAs[Long](ec).toDouble, ap.getAs[Double](ac))
          assert(math.abs(av - ev) <= 0.26 * ev + 3.0, s"$ac@$d: $av vs $ev")
      }
    }
  }

  test("e07 anomalies match a driver-side calendar-densified recomputation") {
    val out = Events.eventAnomalies(spark, TestSpark.sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[java.sql.Date]("activity_date").toString) -> r)
      .toMap
    val raw = graft.sources.Tables.events(spark, TestSpark.sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[java.sql.Date]("d").toLocalDate, r.getAs[Long]("n")))
    assert(out.nonEmpty)
    // densify driver-side exactly as the operator does: each type's
    // series zero-filled from its first day through the global max day
    val gmax = raw.map(_._2).max
    var checked = 0
    raw.groupBy(_._1).foreach { case (et, rows) =>
      val byDay = rows.map(t => t._2 -> t._3).toMap
      val d0 = rows.map(_._2).min
      val series = Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(gmax))
        .map(d => (d.toString, byDay.getOrElse(d, 0L))).toVector
      series.zipWithIndex.drop(7).foreach { case ((day, n), i) =>
        val prior = series.slice(i - 7, i).map(_._2)
        val (s, ss) = (prior.sum, prior.map(x => x * x).sum)
        val r = out((et, day))
        assert(r.getAs[Long]("n_events") == n)
        assert(r.getAs[Double]("mean7") == s / 7.0)
        val varNum = 7 * ss - s * s
        assert(r.getAs[Double]("std7") == math.sqrt(varNum / 49.0))
        if (varNum > 0)
          assert(r.getAs[Double]("z_score") == (n - s / 7.0) / math.sqrt(varNum / 49.0))
        checked += 1
      }
    }
    assert(checked == out.size, s"row sets differ: recomputed $checked vs ${out.size}")
  }

  test("e07 gap semantics: an outage day emits an anomaly; windows span calendar days") {
    import spark.implicits._
    // 'click' runs 10/day for 10 days, then day 11 is a COMPLETE outage
    // (no row at all — the scenario the feed exists for), then resumes.
    // 'buy' has a 3-day mid-series gap, so its "trailing 7" must span 7
    // calendar days (zero-filled), not reach back over 10 observed days.
    val daily = (
      (1 to 10).map(i => ("click", f"2024-03-$i%02d", 10L)) ++
      Seq(("click", "2024-03-12", 10L)) ++
      (1 to 6).map(i => ("buy", f"2024-03-$i%02d", 5L)) ++
      Seq(("buy", "2024-03-10", 5L), ("buy", "2024-03-12", 5L)))
      .toDF("event_type", "activity_date", "n_events")
      .withColumn("activity_date", to_date(col("activity_date")))
    val out = Events.anomaliesOverCalendar(daily).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[java.sql.Date]("activity_date").toString) -> r)
      .toMap
    // the outage day EXISTS in the output and fires: history is a
    // constant 10/day (variance 0), and 0 != mean triggers the exact
    // fallback
    val outage = out(("click", "2024-03-11"))
    assert(outage.getAs[Long]("n_events") == 0L)
    assert(outage.getAs[Boolean]("is_anomaly"),
      "a complete outage after a constant week must alert")
    // 'buy' 03-12: the trailing 7 CALENDAR days (03-05..03-11) hold
    // 5 (03-05), 5 (03-06), 0, 0, 0, 5 (03-10), 0 → mean 15/7; the
    // observed-days form would instead have averaged seven 5s
    val b12 = out(("buy", "2024-03-12"))
    assert(b12.getAs[Double]("mean7") == 15.0 / 7.0,
      s"trailing window must be calendar-day based, got mean7=${b12.getAs[Double]("mean7")}")
    // zero-filled leading ramp-in still suppressed: first 7 calendar
    // days of each series emit nothing
    assert(!out.contains(("click", "2024-03-07")))
  }

  test("t11 resampler: over-cap sources down-sample toward the median, under-cap keep all") {
    val rows = TextAnalysis.mixtureResample(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    val cap = rows.head.getAs[Double]("target_tokens")
    // the cap IS the median of per-source token masses: half the
    // sources sit at or under it (rate 1000), the rest down-sample
    rows.foreach { r =>
      val (tot, rate) = (r.getAs[Long]("tokens_total"), r.getAs[Long]("rate_permille"))
      // the 1-permille floor: capping never DELETES a source
      assert(rate >= 1L, s"${r.getAs[String]("source")} vanished from the mixture")
      if (tot <= cap) assert(rate == 1000L, s"${r.getAs[String]("source")} under cap must keep all")
      else {
        assert(rate < 1000L, s"${r.getAs[String]("source")} over cap must down-sample")
        assert(rate == math.max(1L, math.floor(1000.0 * cap / tot).toLong))
      }
      assert(r.getAs[Long]("n_sampled") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("tokens_sampled") <= tot)
      // rate 1000 keeps EVERYTHING (buckets are 0..999 by construction)
      if (rate == 1000L) {
        assert(r.getAs[Long]("n_sampled") == r.getAs[Long]("n_docs"))
        assert(r.getAs[Long]("tokens_sampled") == tot)
      }
    }
    assert(rows.exists(_.getAs[Long]("rate_permille") == 1000L))
    assert(rows.exists(_.getAs[Long]("rate_permille") < 1000L),
      "corpus must have at least one over-cap source for the test to bite")
    // deterministic: the same docs are selected on a re-run
    val again = TextAnalysis.mixtureResample(spark, TestSpark.sf).collect()
    assert(rows.map(_.toSeq).sortBy(_.toString).toSeq ==
      again.map(_.toSeq).sortBy(_.toString).toSeq)
  }

  test("fingerprint dup ranks start at 1 per fingerprint") {
    val fp = TextAnalysis.fingerprintDocs(spark, TestSpark.sf)
    val firsts = fp.groupBy("fingerprint").agg(min("dup_rank").as("m"))
      .filter(col("m") =!= 1).count()
    assert(firsts == 0)
  }

  test("sessions: duration >= 0, events partition into sessions") {
    val sess = Events.sessionize(spark, TestSpark.sf)
    assert(sess.filter(col("duration_sec") < 0).count() == 0)
    val nEvents = spark.read.parquet(s"${TestSpark.sf}/events.parquet").count()
    assert(sess.agg(sum("n_events")).collect().head.getLong(0) == nEvents)
  }

  test("t15 split: exact dups co-split, buckets bounded, corpus partitions") {
    import spark.implicits._
    // same normalized content under different punctuation/casing must
    // land in the same split — the contamination-safety property
    val docs = Seq(
      (1L, "The Quick, Brown Fox!", "en", "web"),
      (2L, "the quick brown fox", "en", "books"),
      (3L, "ein ganz anderer text", "de", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val s = TextAnalysis.hashSplitFrame(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getLong(4), r.getString(5))).toMap
    assert(s(1L) == s(2L).copy(), "identical normalized content must co-split")
    assert(s(1L)._1 == s(2L)._1) // same fingerprint
    // real corpus: every doc stamped exactly once, buckets in [0, 1000),
    // and the boundary arithmetic matches the split label
    val real = TextAnalysis.hashSplit(spark, TestSpark.sf)
    val n = spark.read.parquet(s"${TestSpark.sf}/documents.parquet").count()
    assert(real.count() == n)
    val bad = real.filter(
      col("bucket") < 0 || col("bucket") >= 1000 ||
        (col("bucket") < 980 && col("split") =!= "train") ||
        (col("bucket") >= 980 && col("bucket") < 990 && col("split") =!= "validation") ||
        (col("bucket") >= 990 && col("split") =!= "test")).count()
    assert(bad == 0)
    // no fingerprint straddles two splits anywhere in the corpus
    val straddle = real.groupBy("fingerprint")
      .agg(countDistinct("split").as("k")).filter(col("k") > 1).count()
    assert(straddle == 0)
  }

  test("e08 transitions: session boundaries excluded, shares sum to 1 per from_type") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ts(s: Long) = new java.sql.Timestamp(t0 + s * 1000)
    // user 1: [signup→click→purchase], 2000s silence, [view→click];
    // user 2: a lone event (no successor); user 3: [click→view]
    val e = Seq(
      (1L, ts(0), 1L, "signup"), (1L, ts(60), 2L, "click"),
      (1L, ts(120), 3L, "purchase"),
      (1L, ts(2120), 4L, "view"), (1L, ts(2180), 5L, "click"),
      (2L, ts(0), 6L, "view"),
      (3L, ts(0), 7L, "click"), (3L, ts(30), 8L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val rows = Events.sessionTransitionsFrame(e).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // purchase→view spans the 2000s gap and must NOT appear
    assert(!rows.contains(("purchase", "view")))
    assert(rows(("signup", "click")) == ((1L, 1L, 1.0)))
    assert(rows(("click", "purchase")) == ((1L, 2L, 0.5)))
    assert(rows(("click", "view")) == ((1L, 2L, 0.5)))
    assert(rows(("view", "click")) == ((1L, 1L, 1.0)))
    assert(rows.size == 4)
    // real corpus: per-from shares always sum to 1
    val real = Events.sessionTransitions(spark, TestSpark.sf)
    val badShare = real.groupBy("from_type")
      .agg(sum("transition_share").as("s"))
      .filter(abs(col("s") - 1.0) > 1e-9).count()
    assert(badShare == 0)
  }

  test("t16 DSIR weights: exact match with a driver-side integer replay") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "a b a b"),   // target
      (2L, "fr", "a b c"),
      (3L, "fr", "x y"),
      (4L, "de", "z"))         // 1 token → excluded
      .toDF("doc_id", "lang", "text")
    val got = graft.operators.TextAnalysis.dsirWeightsFrame(docs, Nil).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("weight"))).toMap
    // driver-side replay in exact integer arithmetic
    def bucket(ng: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(ng.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 4), 16) % 1024L
    }
    def bigrams(s: String) = s.split("\\s+").toSeq.sliding(2).map(_.mkString(" ")).toSeq
    val corpus = Seq((1L, true, "a b a b"), (2L, false, "a b c"), (3L, false, "x y"))
    val cf = corpus.flatMap { case (id, tgt, txt) =>
      bigrams(txt).groupBy(identity).map { case (ng, os) => (id, tgt, bucket(ng), os.size.toLong) }
    }
    val census = cf.groupBy(_._3).map { case (b, rows) =>
      b -> (rows.map(_._4).sum, rows.filter(_._2).map(_._4).sum)
    }
    val rr = census.values.map(_._1).sum
    val tt = census.values.map(_._2).sum
    val r6 = census.map { case (b, (rB, tB)) =>
      val num = BigInt(tB + 1) * BigInt(rr + 1024)
      val den = BigInt(rB + 1) * BigInt(tt + 1024)
      b -> ((num * 2000000 + den) / (den * 2)).toLong
    }
    val expected = cf.groupBy(_._1).map { case (id, rows) =>
      id -> (rows.map(_._4).sum, rows.map(r => r._4 * r6(r._3)).sum.toDouble / 1e6)
    }
    assert(got.keySet == Set(1L, 2L, 3L)) // doc 4 excluded
    expected.foreach { case (id, (n, w)) =>
      assert(got(id)._1 == n, s"doc $id n_bigrams")
      assert(got(id)._2 == w, s"doc $id weight: ${got(id)._2} vs $w")
    }
    // real corpus: every multi-token doc scored, bigram count conserved
    val real = graft.operators.TextAnalysis.dsirWeights(spark, TestSpark.sf)
    val toks = graft.operators.TextAnalysis.tokenCount(spark, TestSpark.sf)
      .select(col("doc_id"), col("ws_tokens"))
    val joined = real.join(toks, "doc_id")
    assert(joined.filter(col("n_bigrams") =!= col("ws_tokens") - 1).count() == 0)
    assert(real.filter(col("weight") <= 0).count() == 0)
    assert(real.count() == toks.filter(col("ws_tokens") >= 2).count())
  }

  test("t18 per-source DSIR: domain-local targets; collapses to t16 on one source") {
    import spark.implicits._
    // identical text "a b c" lands in two domains whose target slices
    // differ: web's exemplar repeats (a b), code's repeats (x y) — the
    // same document must score HIGHER against web's target than code's
    val docs = Seq(
      (1L, "en", "web", "a b a b"),
      (2L, "fr", "web", "a b c"),
      (3L, "en", "code", "x y x y"),
      (4L, "fr", "code", "a b c"))
      .toDF("doc_id", "lang", "source", "text")
    val got = graft.operators.TextAnalysis.dsirWeightsFrame(docs, Seq("source")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("source"), r.getAs[Long]("n_bigrams"), r.getAs[Double]("weight")))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(2L)._2 == 2L && got(4L)._2 == 2L)
    assert(got(2L)._3 > got(4L)._3,
      s"same text must be more web-target-like than code-target-like: $got")
    // driver-side exact integer replay, keyed by source
    def bucket(ng: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(ng.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 4), 16) % 1024L
    }
    def bigrams(s: String) = s.split("\\s+").toSeq.sliding(2).map(_.mkString(" ")).toSeq
    val corpus = Seq((1L, true, "web", "a b a b"), (2L, false, "web", "a b c"),
      (3L, true, "code", "x y x y"), (4L, false, "code", "a b c"))
    val cf = corpus.flatMap { case (id, tgt, src, txt) =>
      bigrams(txt).groupBy(identity).map { case (ng, os) =>
        (id, tgt, src, bucket(ng), os.size.toLong) }
    }
    corpus.map(_._3).distinct.foreach { src =>
      val rows = cf.filter(_._3 == src)
      val census = rows.groupBy(_._4).map { case (b, rs) =>
        b -> (rs.map(_._5).sum, rs.filter(_._2).map(_._5).sum)
      }
      val rr = census.values.map(_._1).sum
      val tt = census.values.map(_._2).sum
      val r6 = census.map { case (b, (rB, tB)) =>
        val num = BigInt(tB + 1) * BigInt(rr + 1024)
        val den = BigInt(rB + 1) * BigInt(tt + 1024)
        b -> ((num * 2000000 + den) / (den * 2)).toLong
      }
      rows.groupBy(_._1).foreach { case (id, rs) =>
        val w = rs.map(r => r._5 * r6(r._4)).sum.toDouble / 1e6
        assert(got(id)._3 == w, s"doc $id weight: ${got(id)._3} vs $w")
      }
    }
    // a single-source corpus collapses to the global t16 weights
    val single = docs.filter(col("source") === "web")
    val perSrc = graft.operators.TextAnalysis.dsirWeightsFrame(single, Seq("source")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("weight")).toMap
    val global = graft.operators.TextAnalysis.dsirWeightsFrame(single, Nil).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("weight")).toMap
    assert(perSrc == global, s"per-source must equal t16 on one source: $perSrc vs $global")
  }

  test("t17 DSIR selection equals the driver-side global greedy prefix") {
    val sel = graft.operators.TextAnalysis.dsirSelect(spark, TestSpark.sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("weight"),
          r.getAs[Boolean]("is_selected"))).toMap
    // greedy replay: order by (fixed-point weight desc, doc_id), take
    // while the running token total stays inside half the corpus tokens
    val ordered = sel.toSeq
      .map { case (id, (n, w, s)) => (id, n, math.round(w * 1e6), s) }
      .sortBy { case (id, _, wfp, _) => (-wfp, id) }
    val budget = ordered.map(_._2).sum / 2
    var run = 0L
    ordered.foreach { case (id, n, _, isSel) =>
      run += n
      assert(isSel == (run <= budget), s"doc $id: got $isSel at run=$run budget=$budget")
    }
    // the split is real on this corpus: both sides populated
    assert(sel.values.exists(_._3) && sel.values.exists(!_._3))
    // selection favors target-likeness: mean weight of kept > dropped
    val (kept, dropped) = sel.values.partition(_._3)
    assert(kept.map(_._2).sum / kept.size > dropped.map(_._2).sum / dropped.size)
  }

  test("t19 per-source selection equals each source's own greedy prefix") {
    val rows = graft.operators.TextAnalysis.dsirSelectPerSource(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[Double]("weight"),
        r.getAs[Boolean]("is_selected")))
    assert(rows.map(_._2).distinct.length > 1, "needs a multi-source corpus")
    rows.groupBy(_._2).foreach { case (src, docs) =>
      // per-source greedy replay: that source's weight order against
      // half of THAT source's tokens — no cross-source leakage
      val ordered = docs
        .map { case (id, _, n, w, s) => (id, n, math.round(w * 1e6), s) }
        .sortBy { case (id, _, wfp, _) => (-wfp, id) }
      val budget = ordered.map(_._2).sum / 2
      var run = 0L
      ordered.foreach { case (id, n, _, isSel) =>
        run += n
        assert(isSel == (run <= budget),
          s"source $src doc $id: got $isSel at run=$run budget=$budget")
      }
      // each source's split is real: both sides populated
      assert(docs.exists(_._5) && docs.exists(!_._5), s"degenerate split in $src")
    }
  }

  test("e09 paths: gap starts a new path, short sessions truncate, shares sum to 1") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ts(s: Long) = new java.sql.Timestamp(t0 + s * 1000)
    // user 1: [signup→click→purchase→view] then a gap then [view→click];
    // user 2: a 1-event session; user 3: [click→view]
    val e = Seq(
      (1L, ts(0), 1L, "signup"), (1L, ts(60), 2L, "click"),
      (1L, ts(120), 3L, "purchase"), (1L, ts(180), 4L, "view"),
      (1L, ts(2180), 5L, "view"), (1L, ts(2240), 6L, "click"),
      (2L, ts(0), 7L, "view"),
      (3L, ts(0), 8L, "click"), (3L, ts(30), 9L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val rows = Events.sessionPathsFrame(e).collect()
      .map(r => r.getAs[String]("path") ->
        (r.getAs[Long]("n_sessions"), r.getAs[Double]("avg_events"),
          r.getAs[Double]("pct_sessions"))).toMap
    // 4 sessions: the 4-event path truncates at 3 steps; the post-gap
    // view→click must NOT extend the first session's path
    assert(rows.size == 4)
    assert(rows("signup>click>purchase") == ((1L, 4.0, 0.25)))
    assert(rows("view>click") == ((1L, 2.0, 0.25)))
    assert(rows("view") == ((1L, 1.0, 0.25)))
    assert(rows("click>view") == ((1L, 2.0, 0.25)))
    // real corpus: census conserves e01's session count and event total
    val census = Events.sessionPaths(spark, TestSpark.sf)
    val sess = Events.sessionize(spark, TestSpark.sf)
    assert(census.agg(sum("n_sessions")).collect().head.getLong(0) == sess.count())
    val evTotal = census.agg(sum(col("avg_events") * col("n_sessions")))
      .collect().head.getDouble(0)
    val expected = sess.agg(sum("n_events")).collect().head.getLong(0)
    assert(math.abs(evTotal - expected) < 1e-6 * expected)
    val shareSum = census.agg(sum("pct_sessions")).collect().head.getDouble(0)
    assert(math.abs(shareSum - 1.0) < 1e-9)
  }

  test("e05 cohort retention: offset-0 rows are full cohorts covering every user") {
    import graft.operators.Events
    val ret = Events.cohortRetention(spark, TestSpark.sf)
    val rows = ret.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("week_offset") >= 0)
      val pct = r.getAs[Double]("retention_pct")
      assert(pct > 0 && pct <= 1.0)
      if (r.getAs[Long]("week_offset") == 0) assert(pct == 1.0)
    }
    // every user lands in exactly one cohort's week-0 row
    val users = spark.read.parquet(s"${TestSpark.sf}/events.parquet")
      .select("user_id").distinct().count()
    assert(rows.filter(_.getAs[Long]("week_offset") == 0)
      .map(_.getAs[Long]("n_users")).sum == users)

    // full differential: recompute the matrix from epoch seconds in Scala
    import java.time.{Instant, LocalDate, ZoneOffset, DayOfWeek}
    import java.time.temporal.TemporalAdjusters
    val uw = graft.sources.Tables.events(spark, TestSpark.sf)
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec")).collect()
      .map { r =>
        val wk = LocalDate.ofInstant(Instant.ofEpochSecond(r.getLong(1)), ZoneOffset.UTC)
          .`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY))
        (r.getLong(0), wk)
      }.distinct
    val firsts = uw.groupBy(_._1).map { case (u, ws) => u -> ws.map(_._2).min }
    val expected = uw.groupBy { case (u, wk) =>
      (firsts(u), (wk.toEpochDay - firsts(u).toEpochDay) / 7)
    }.map { case ((cw, off), rs) => (cw.toString, off, rs.map(_._1).distinct.size.toLong) }
      .toSet
    val got = rows.map(r => (r.getAs[java.sql.Date]("cohort_week").toString,
      r.getAs[Long]("week_offset"), r.getAs[Long]("n_users"))).toSet
    assert(got == expected)
  }

  test("tumbling windows partition all events") {
    val n = Events.tumblingWindows(spark, TestSpark.sf)
      .agg(sum("n_events")).collect().head.getLong(0)
    assert(n == spark.read.parquet(s"${TestSpark.sf}/events.parquet").count())
  }

  test("t12 packing equals a driver-side sequential pack; offsets and ids are sound") {
    val budget = 2048L
    val got = TextAnalysis.packSequences(spark, TestSpark.sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("tokens"), r.getAs[Long]("seq_id"), r.getAs[Long]("seq_offset")))
      .toMap
    // sequential reference: same hash order, one running sum
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long").as("t"),
        md5(col("doc_id").cast("string")).as("h"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("t"), r.getAs[String]("h")))
      .sortBy { case (id, _, h) => (h, id) }
    var pre = 0L
    docs.foreach { case (id, t, _) =>
      val (gt, gs, go) = got(id)
      assert(gt == t, s"doc $id token count")
      assert(gs == pre / budget, s"doc $id seq_id")
      assert(go == pre % budget, s"doc $id seq_offset")
      pre += t
    }
    assert(got.size == docs.length)
    // sequence ids are contiguous from 0 and offsets stay inside the budget
    val ids = got.values.map(_._2).toSet
    assert(ids == (0L to ids.max).toSet, s"holes in sequence ids: $ids")
    assert(got.values.forall { case (_, _, off) => off >= 0 && off < budget })
  }

  test("t14 PII scrub redacts synthetic emails/phones/ips exactly; corpus reports clean") {
    import spark.implicits._
    // positive cases ride the SAME operator via the frame-level seam
    val synth = Seq(
      (1L, "contact me at jo.na+x@ex-ample.org or 555-123-4567 thanks"),
      (2L, "server 10.0.255.3 and mirror 192.168.1.1 are up"),
      (3L, "no pii here at all"),
      (4L, "a@b.io b@c.net 111.222.333.444")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.piiScrubFrame(synth).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("n_emails") == 1 && got(1L).getAs[Long]("n_phones") == 1)
    assert(got(1L).getAs[String]("clean_text") ==
      "contact me at [EMAIL] or [PHONE] thanks")
    assert(got(2L).getAs[Long]("n_ips") == 2 &&
      got(2L).getAs[String]("clean_text") == "server [IP] and mirror [IP] are up")
    assert(got(3L).getAs[Boolean]("is_clean") &&
      got(3L).getAs[String]("clean_text") == "no pii here at all")
    assert(got(4L).getAs[Long]("n_emails") == 2 && got(4L).getAs[Long]("n_ips") == 1)
    assert(!got(4L).getAs[Boolean]("is_clean"))
    // the synthetic corpus is clean, and proving it clean IS the report
    val corpus = TextAnalysis.piiScrub(spark, TestSpark.sf)
    assert(corpus.filter(!col("is_clean")).count() == 0)
    assert(corpus.filter(col("clean_text") =!= col("text")).join(
      graft.sources.Tables.documents(spark, TestSpark.sf), Seq("doc_id")).count() == 0)
  }

  test("t13 boilerplate census: fractions bounded, every doc reports, flags mean cross-doc mass") {
    val b = TextAnalysis.boilerplateCensus(spark, TestSpark.sf)
    val n = graft.sources.Tables.documents(spark, TestSpark.sf).count()
    assert(b.count() == n)
    assert(b.filter(col("boilerplate_frac") < 0 || col("boilerplate_frac") > 1).count() == 0)
    assert(b.filter(col("n_boilerplate_grams") > col("n_grams")).count() == 0)
    // random word streams make 8-grams unique: the corpus census is a
    // CLEAN report (the d08 rule), and the window counts still verify
    assert(b.agg(sum(col("n_boilerplate_grams"))).head.getLong(0) == 0)
    // positive case: a shared 10-token header across 12 docs flags, the
    // unique tails do not
    import spark.implicits._
    val header = "terms of service apply to all content on this site"
    val synth = (0 until 12).map(i => (i.toLong, s"$header unique$i tail$i words$i"))
      .toDF("doc_id", "text")
    val flagged = TextAnalysis.boilerplateFrame(synth).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    flagged.values.foreach { r =>
      // 13 tokens -> 6 windows; the 3 windows fully inside the 10-token
      // header are cross-doc (df=12 > 10), the 3 touching unique tails
      // are not
      assert(r.getAs[Long]("n_grams") == 6)
      assert(r.getAs[Long]("n_boilerplate_grams") == 3)
      assert(math.abs(r.getAs[Double]("boilerplate_frac") - 3.0 / 6.0) < 1e-12)
    }
  }

  test("t26 quality regression: driver-side replay (features, sums, Cramer) matches") {
    // independent replay: java regex on the collected corpus -> integer
    // features -> exact sums -> the same Cramer chain in scalar doubles
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select(col("doc_id"), col("source"), col("text")).collect()
    val stop = java.util.regex.Pattern.compile("\\b(the|and|of|to|in)\\b")
    val punct = java.util.regex.Pattern.compile("[^A-Za-z0-9\\s]")
    val tok = java.util.regex.Pattern.compile("\\S+")
    def countOf(p: java.util.regex.Pattern, s: String): Long = {
      val m = p.matcher(s); var c = 0L; while (m.find()) c += 1; c
    }
    case class F(x1: Long, x2: Long, y: Long)
    val feats: Seq[(String, F)] = docs.toSeq.flatMap { r =>
      val text = r.getAs[String]("text")
      val nChars = text.length.toLong
      val nTok = countOf(tok, text)
      if (nChars == 0 || nTok == 0) None
      else {
        val pc = countOf(punct, text)
        val sw = countOf(stop, text.toLowerCase)
        val y = if (nTok >= 50 && 1000 * pc <= 200 * nChars && 20 * sw >= nTok) 1L else 0L
        Some(r.getAs[String]("source") ->
          F(math.min(nTok, 1000L), math.min(1000 * sw / nTok, 1000L), y))
      }
    }
    def solve(fs: Seq[F]): (Long, Long, Long, Long, Double, Double, Double) = {
      val n = fs.size.toLong
      val (s1, s2, sy) = (fs.map(_.x1).sum, fs.map(_.x2).sum, fs.map(_.y).sum)
      val s11 = fs.map(f => f.x1 * f.x1).sum
      val s12 = fs.map(f => f.x1 * f.x2).sum
      val s22 = fs.map(f => f.x2 * f.x2).sum
      val s1y = fs.map(f => f.x1 * f.y).sum
      val s2y = fs.map(f => f.x2 * f.y).sum
      def d(x: Long) = x.toDouble
      val det: Double = d(n) * (d(s11) * d(s22) - d(s12) * d(s12)) -
        d(s1) * (d(s1) * d(s22) - d(s12) * d(s2)) +
        d(s2) * (d(s1) * d(s12) - d(s11) * d(s2))
      if (det == 0.0) return (n, s1, sy, s12, Double.NaN, Double.NaN, Double.NaN)
      val det0 = d(sy) * (d(s11) * d(s22) - d(s12) * d(s12)) -
        d(s1) * (d(s1y) * d(s22) - d(s12) * d(s2y)) +
        d(s2) * (d(s1y) * d(s12) - d(s11) * d(s2y))
      val det1 = d(n) * (d(s1y) * d(s22) - d(s12) * d(s2y)) -
        d(sy) * (d(s1) * d(s22) - d(s12) * d(s2)) +
        d(s2) * (d(s1) * d(s2y) - d(s1y) * d(s2))
      val det2 = d(n) * (d(s11) * d(s2y) - d(s1y) * d(s12)) -
        d(s1) * (d(s1) * d(s2y) - d(s1y) * d(s2)) +
        d(sy) * (d(s1) * d(s12) - d(s11) * d(s2))
      (n, s1, sy, s12, det0 / det, det1 / det, det2 / det)
    }
    val got = TextAnalysis.qualityRegression(spark, TestSpark.sf).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val bySource = feats.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(got.keySet == bySource.keySet + "__all__")
    (bySource + ("__all__" -> feats.map(_._2))).foreach { case (src, fs) =>
      val (n, s1, sy, s12, b0, b1, b2) = solve(fs)
      val r = got(src)
      assert(r.getAs[Long]("n") == n, src)
      assert(r.getAs[Long]("s1") == s1, src)
      assert(r.getAs[Long]("sy") == sy, src)
      assert(r.getAs[Long]("s12") == s12, src)
      if (b0.isNaN) {
        // singular per-source fit (constant feature in a tiny source):
        // both sides must agree it is unsolvable
        assert(r.isNullAt(r.fieldIndex("b0")), src)
      } else {
        // same IEEE chain on the same exact inputs -> tight agreement
        assert(math.abs(r.getAs[Double]("b0") - b0) <= 1e-12 * math.max(1.0, math.abs(b0)), src)
        assert(math.abs(r.getAs[Double]("b1") - b1) <= 1e-12 * math.max(1.0, math.abs(b1)), src)
        assert(math.abs(r.getAs[Double]("b2") - b2) <= 1e-12 * math.max(1.0, math.abs(b2)), src)
      }
    }
    // the GLOBAL fit must carry signal on the fixture: not degenerate
    val g = got("__all__")
    assert(!g.isNullAt(g.fieldIndex("r2")))
    val r2 = g.getAs[Double]("r2")
    assert(r2 > 0.0 && r2 <= 1.0, s"__all__ r2=$r2")
  }

  test("t27 model apply: confusion ties out against t26 stats") {
    val t26 = TextAnalysis.qualityRegression(spark, TestSpark.sf).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val rows = TextAnalysis.qualityModelApply(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val (tp, fp, fn, tn) = (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
        r.getAs[Long]("fn"), r.getAs[Long]("tn"))
      val n = r.getAs[Long]("n_docs")
      assert(tp + fp + fn + tn == n, src)
      // actual positives per source = t26's per-source Σy
      assert(tp + fn == t26(src).getAs[Long]("sy"), src)
      assert(n == t26(src).getAs[Long]("n"), src)
      assert(math.abs(r.getAs[Double]("accuracy") - (tp + tn).toDouble / n) < 1e-15, src)
    }
    // sanity: the probe is at least coin-flip on its own training corpus
    // (least-squares optimizes MSE, not accuracy, so majority-beating is
    // not guaranteed in general — but sub-0.5 would mean a sign bug)
    val (hits, tot) = rows.foldLeft((0L, 0L)) { case ((h, t), r) =>
      (h + r.getAs[Long]("tp") + r.getAs[Long]("tn"), t + r.getAs[Long]("n_docs"))
    }
    assert(hits.toDouble / tot > 0.5, s"probe accuracy ${hits.toDouble / tot}")
  }
}
