package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.operators.Similarity
import graft.plans.CosineSimilarity
import graft.sources.Tables

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("parameterized IVF: a k=32 build/search round-trips; searchers read k from the artifact") {
    // build with a non-default k: the publish replaces the corpus's one
    // active index, and every search stage must follow the ARTIFACT's
    // cell count (never an assumed 16)
    val a32 = Similarity.ivfBuild(spark, TestSpark.sf, k = 32)
    val cells = a32.select("centroid_id").distinct().count()
    assert(cells > 1 && cells <= 32, s"expected ≤32 populated cells, got $cells")
    assert(a32.agg(max("centroid_id")).collect().head.getLong(0) >= 16L,
      "mod-32 seeding must spread cells beyond the 16-id range")
    assert(a32.count() == graft.sources.Tables.embeddings(spark, TestSpark.sf).count())
    // q45 reports one row per populated cell of the k=32 artifact
    val stats32 = Similarity.ivfCellStats(spark, TestSpark.sf)
    assert(stats32.count() == cells)
    // q32 probe search still returns ranked rows per query
    val s32 = Similarity.ivfSearch(spark, TestSpark.sf)
    assert(s32.groupBy("q_id").count().count() == 20)
    // restore the default-k index for the rest of the suite (and the
    // oracle surface): a rebuild is the deployment-contract way back
    val a16 = Similarity.ivfBuild(spark, TestSpark.sf)
    assert(a16.select("centroid_id").distinct().count() <= 16)
  }

  test("adaptive √n build round-trips through the q32/q35/q45 search stages") {
    val n = Tables.embeddings(spark, TestSpark.sf).count()
    val k = Similarity.adaptiveCells(n)
    assert(k == math.floor(math.sqrt(n.toDouble)).toInt)
    // clamp edges: tiny and astronomically large corpora stay bounded
    assert(Similarity.adaptiveCells(0L) == 1)
    assert(Similarity.adaptiveCells(3L) == 1)
    assert(Similarity.adaptiveCells(100L) == 10)
    assert(Similarity.adaptiveCells(10_000_000_000L) == 4096)
    // publish the adaptive index as the corpus's active index
    val a = Similarity.ivfBuild(spark, TestSpark.sf, Similarity.adaptiveCells(n))
    val cells = a.select("centroid_id").distinct().count()
    assert(cells > 16 && cells <= k,
      s"adaptive k=$k should spread past the default 16, got $cells cells")
    assert(a.count() == n)
    // the search stages follow the artifact's k with no code changes
    assert(Similarity.ivfCellStats(spark, TestSpark.sf).count() == cells)
    assert(Similarity.ivfSearch(spark, TestSpark.sf)
      .groupBy("q_id").count().count() == 20)
    val recall = Similarity.ivfSearchRecall(spark, TestSpark.sf)
      .orderBy("nprobe").collect()
    assert(recall.map(_.getAs[Long]("nprobe")).toSeq == Seq(1L, 2L, 4L))
    // restore the default-k index for the rest of the suite
    val a16 = Similarity.ivfBuild(spark, TestSpark.sf)
    assert(a16.select("centroid_id").distinct().count() <= 16)
  }

  test("PQ tier: codes are complete, search ranks reconstructions, recall beats chance and loses to uncompressed") {
    import org.apache.spark.sql.functions._
    val n = Tables.embeddings(spark, TestSpark.sf).count()
    // build-if-missing via the search entry (the q32 contract)
    val top = Similarity.pqSearch(spark, TestSpark.sf)
    // every query gets <=5 ranked candidates from its own cell
    val perQ = top.groupBy("q_id").agg(count(lit(1)).as("c"),
      max("rank").as("mr")).collect()
    assert(perQ.length == 20)
    perQ.foreach(r => assert(r.getAs[Long]("c") <= 5 &&
      r.getAs[Long]("mr") == r.getAs[Long]("c")))
    // the published tier: exactly M codes per vector, each in [0, ks)
    val codes = Similarity.pqBuild(spark, TestSpark.sf)
    assert(codes.count() == n * 4)
    assert(codes.groupBy("vec_id").count().where("count <> 4").count() == 0)
    assert(codes.where("code < 0 or code >= 16").count() == 0)
    // recall: 3 monotone-in-nprobe rows; compression can only LOSE
    // ordering information, so PQ recall stays within [chance, the
    // uncompressed q35 recall] at every nprobe level
    val pq = Similarity.pqRecall(spark, TestSpark.sf)
      .orderBy("nprobe").collect()
    val exact = Similarity.ivfSearchRecall(spark, TestSpark.sf)
      .orderBy("nprobe").collect()
    assert(pq.map(_.getAs[Long]("nprobe")).toSeq == Seq(1L, 2L, 4L))
    pq.zip(exact).foreach { case (p, x) =>
      val pr = p.getAs[Double]("recall_at5")
      assert(pr > 0.0 && pr <= x.getAs[Double]("recall_at5") + 1e-9,
        s"PQ recall $pr vs uncompressed ${x.getAs[Double]("recall_at5")}")
      // same candidate sets — the tiers differ only in scoring bytes
      assert(p.getAs[Double]("avg_candidates") == x.getAs[Double]("avg_candidates"))
    }
    assert(pq(0).getAs[Double]("recall_at5") <= pq(2).getAs[Double]("recall_at5"))
  }

  test("incremental IVF append: arrivals assign to the published codebook, no retrain") {
    import org.apache.spark.sql.functions._
    val n = Tables.embeddings(spark, TestSpark.sf).count()
    val a = Similarity.ivfAppend(spark, TestSpark.sf)
    // every vector served, exactly one cell each, flag == the split
    assert(a.count() == n)
    assert(a.select("vec_id").distinct().count() == n)
    assert(a.where(col("is_new_vec") =!= (pmod(col("vec_id"), lit(5L)) === 4)).count() == 0)
    // cell sizes are a property of the served union: they sum to n and
    // agree with a direct recount
    val bad = a.groupBy("centroid_id")
      .agg(count(lit(1)).as("c"), max("cell_size").as("s"), min("cell_size").as("s2"))
      .where(col("c") =!= col("s") || col("s") =!= col("s2")).count()
    assert(bad == 0)
    // the standing artifact froze: re-running append re-reads it (the
    // build-once path), and the result is bit-stable
    val again = Similarity.ivfAppend(spark, TestSpark.sf)
    assert(again.except(a).count() == 0 && a.except(again).count() == 0)
  }

  test("d22 semantic dedup equals a driver-side brute force over the published cells") {
    // d22 blocks on its OWN √n-adaptive index — immune to other tests
    // rebuilding the search family's k=16 artifact
    val assign = Similarity.semanticIndex(spark, TestSpark.sf)
      .select("vec_id", "centroid_id", "cos_to_centroid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the blocking granularity actually adapts: more cells than the
    // search family's fixed 16, bounded by ⌊√n⌋
    val nCells = assign.map(_._2).distinct.length
    assert(nCells > 16 && nCells <= Similarity.adaptiveCells(assign.length.toLong),
      s"semantic index must block at √n granularity, got $nCells cells")
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    // the Expression's exact fold: sequential dot/nx/ny, one division
    def cos4(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); nx += a(i) * a(i); ny += b(i) * b(i); i += 1
      }
      BigDecimal(dot / (math.sqrt(nx) * math.sqrt(ny)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = assign.groupBy(_._2).values.flatMap { cell =>
      val ordered = cell.sortBy(m => (m._3, m._1)) // (cos_to_centroid, id)
      ordered.zipWithIndex.flatMap { case ((vid, cid, vcos), i) =>
        val partners = ordered.take(i)
          .map(k => (k._3, k._1, cos4(emb(k._1), emb(vid))))
          .filter(_._3 >= 0.40)
        if (partners.isEmpty) None
        else Some((vid, cid, vcos, partners.size.toLong,
          partners.map(_._3).max, partners.min._2))
      }
    }.toSet
    val got = Similarity.semanticDedup(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).toSet
    assert(expected.nonEmpty, "threshold should remove something at this sf")
    assert(got == expected)
    // every keeper precedes its removed vector in the (cos, id) order
    val byId = assign.map(m => m._1 -> m).toMap
    assert(got.forall { case (vid, _, vcos, _, _, kept) =>
      val k = byId(kept)
      k._3 < vcos || (k._3 == vcos && k._1 < vid)
    })
  }

  test("d23 semantic contamination: zero-safe per-bench rows, flags match brute force") {
    val assign = Similarity.semanticIndex(spark, TestSpark.sf)
      .select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos4(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); nx += a(i) * a(i); ny += b(i) * b(i); i += 1
      }
      BigDecimal(dot / (math.sqrt(nx) * math.sqrt(ny)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val corpusByCell = assign.filter(_._1 % 10 != 0).groupBy(_._2)
    val expected = assign.filter(_._1 % 10 == 0).map { case (bid, cell) =>
      val cands = corpusByCell.getOrElse(cell, Array.empty)
        .map(c => cos4(emb(bid), emb(c._1)))
      (bid, cell, cands.length.toLong,
        cands.count(_ >= 0.40).toLong,
        if (cands.isEmpty) None else Some(cands.max),
        cands.exists(_ >= 0.40))
    }.toSet
    val got = Similarity.semanticContamination(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)), r.getBoolean(5))).toSet
    assert(got == expected)
    assert(got.size == assign.count(_._1 % 10 == 0), "one row per benchmark vector")
  }

  test("ivf k-means: every vector lands in exactly one of ≤16 cells") {
    val df = Similarity.ivfAssign(spark, TestSpark.sf)
    val n = Tables.embeddings(spark, TestSpark.sf).count()
    assert(df.count() == n)
    assert(df.select("vec_id").distinct().count() == n)
    assert(df.select("centroid_id").distinct().count() <= 16)
    // cell_size is consistent with the actual assignment
    val bad = df.groupBy("centroid_id")
      .agg(count(lit(1)).as("actual"), max("cell_size").as("claimed"))
      .where(col("actual") =!= col("claimed")).count()
    assert(bad == 0)
  }

  test("Lloyd refinement does not degrade mean assignment cosine vs the seed codebook") {
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("emb"))
    // recompute the hash-spread seed codebook exactly as the build does:
    // per mod-16 bucket, the member with the smallest (md5(id), id)
    val c0 = e.groupBy(pmod(col("vec_id"), lit(16L)).as("centroid_id"))
      .agg(min(struct(md5(col("vec_id").cast("string")).as("h"),
        col("vec_id").as("v"), col("emb").as("e"))).as("s"))
      .select(col("centroid_id"), col("s.e").as("c_emb"))
    val init = e.crossJoin(c0)
      .select(col("vec_id"),
        round(CosineSimilarity.cosineSim(col("emb"), col("c_emb")), 4).as("cos_r"))
      .groupBy("vec_id").agg(max("cos_r").as("best"))
      .agg(avg("best")).collect().head.getDouble(0)
    val refined = Similarity.ivfAssign(spark, TestSpark.sf)
      .agg(avg("cos_to_centroid")).collect().head.getDouble(0)
    assert(refined >= init - 1e-9,
      s"refined codebook ($refined) worse than seed codebook ($init)")
  }

  test("multi-probe recall report: recall and scan cost are monotone in nprobe") {
    val rows = Similarity.ivfSearchRecall(spark, TestSpark.sf)
      .orderBy("nprobe").collect()
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq == Seq(1L, 2L, 4L))
    val recalls = rows.map(_.getAs[Double]("recall_at5"))
    val cands = rows.map(_.getAs[Double]("avg_candidates"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone: ${recalls.toSeq}")
    assert(cands.zip(cands.tail).forall { case (a, b) => a < b },
      s"scan cost not increasing: ${cands.toSeq}")
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
  }
}
