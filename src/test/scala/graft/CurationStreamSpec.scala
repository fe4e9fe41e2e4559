package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CurationStream

/** The continuous curation ingest must converge to EXACTLY the batch
  * full-rebuild removal set no matter how the stream is chopped into
  * micro-batches, and a replayed batch (foreachBatch's at-least-once
  * delivery after a crash) must change nothing — the batch-keyed
  * overwrite is the exactly-once mechanism under test.
  */
class CurationStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streamed shard ingest == batch full-rebuild removal set, replay included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("text"))
    val rows = docs.as[(Long, String)].collect().toSeq
    assert(rows.size > 50)

    val out = java.nio.file.Files.createTempDirectory("graft_cur_stream").toString
    val src = MemoryStream[(Long, String)]
    val q = CurationStream.ingest(
      src.toDF().toDF("doc_id", "text"), s"$out/index", s"$out/ckpt")
    try {
      // three arbitrary arrival chunks (id order — irrelevant to the
      // removal SET, which is arrival-order-free by keep-min pairing)
      rows.grouped((rows.size + 2) / 3).foreach { chunk =>
        src.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    // stream == batch rebuild
    val full = graft.operators.Dedup.removalSetOf(docs)
      .collect().map(_.getLong(0)).toSet
    assert(full.nonEmpty, "test corpus must contain near-dups")
    def standing(): Set[Long] =
      CurationStream.standingRemovals(spark, s"$out/index")
        .select("removed_doc_id").collect().map(_.getLong(0)).toSet
    assert(standing() == full)

    // three batch-keyed partitions per tier
    val tier = new java.io.File(s"$out/index/docs").list().toSeq
      .filter(_.startsWith("shard=b"))
    assert(tier.size == 3, s"expected 3 batch partitions, got $tier")

    // crash-replay: re-deliver batch 1's rows under its own batchId —
    // the tick overwrites only its own partitions, probes only the
    // others, and the standing set is unchanged
    val chunk1 = rows.grouped((rows.size + 2) / 3).toSeq(1)
    CurationStream.ingestBatch(
      chunk1.toDF("doc_id", "text"), s"$out/index", 1L)
    assert(standing() == full)
    // an empty replay publishes nothing new
    CurationStream.ingestBatch(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), s"$out/index", 99L)
    assert(new java.io.File(s"$out/index/docs").list().toSeq
      .count(_.startsWith("shard=")) == 3)
    assert(standing() == full)

    // quiet-hour compaction: three partitions fold into one, the
    // standing set is untouched, and a post-compaction replay still
    // converges (its rows now live inside the consolidated partition —
    // duplicated band rows can only rediscover pairs, never add)
    assert(graft.operators.Dedup.compactIndex(spark, s"$out/index") == 3)
    val parts = new java.io.File(s"$out/index/docs").list().toSeq
      .filter(_.startsWith("shard="))
    assert(parts == Seq("shard=c0"), s"expected one compacted partition, got $parts")
    assert(standing() == full)
    CurationStream.ingestBatch(
      chunk1.toDF("doc_id", "text"), s"$out/index", 1L)
    assert(standing() == full)
    // second compaction folds the replay back in under the next generation
    assert(graft.operators.Dedup.compactIndex(spark, s"$out/index") == 2)
    assert(new java.io.File(s"$out/index/docs").list().toSeq
      .filter(_.startsWith("shard=")) == Seq("shard=c1"))
    assert(standing() == full)
    // idempotent floor: a single-partition index has nothing to fold
    assert(graft.operators.Dedup.compactIndex(spark, s"$out/index") == 0)
  }

  test("compaction survives a torn tick; the replayed batch restores the full-rebuild set") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("text"))
    val chunks = docs.as[(Long, String)].collect().toSeq.grouped(100).toSeq.take(3)
    val idx = java.nio.file.Files.createTempDirectory("graft_cur_torn").toString
    chunks.zipWithIndex.foreach { case (c, b) =>
      CurationStream.ingestBatch(c.toDF("doc_id", "text"), idx, b.toLong)
    }
    // the kill between batch 1's two publishes: its tier partition
    // landed, its removal report did not
    val hadoopPath = new org.apache.hadoop.fs.Path(s"$idx/removals/shard=b1")
    hadoopPath.getFileSystem(spark.sessionState.newHadoopConf()).delete(hadoopPath, true)
    assert(graft.operators.Dedup.compactIndex(spark, idx) == 3)
    val full = graft.operators.Dedup.removalSetOf(chunks.flatten.toDF("doc_id", "text"))
      .collect().map(_.getLong(0)).toSet
    def standing(): Set[Long] = CurationStream.standingRemovals(spark, idx)
      .select("removed_doc_id").collect().map(_.getLong(0)).toSet
    assert(standing() != full, "batch 1's lost report must hold removals no other report holds")
    CurationStream.ingestBatch(chunks(1).toDF("doc_id", "text"), idx, 1L)
    assert(standing() == full)
    spark.catalog.clearCache()
  }

  test("streamed vector ingest: first batch bootstraps the codebook, later batches assign to it") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val vecs = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .as[(Long, Array[Double])].collect().toSeq
    val n = vecs.size.toLong
    assert(n > 50)

    val out = java.nio.file.Files.createTempDirectory("graft_vec_stream").toString
    val src = MemoryStream[(Long, Array[Double])]
    val q = streaming.CurationStream.ingestVectors(
      src.toDF().toDF("vec_id", "emb"), s"$out/vec", s"$out/ckpt")
    try {
      vecs.grouped((vecs.size + 2) / 3).foreach { chunk =>
        src.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val served = graft.operators.Similarity.vecStandingIndex(spark, s"$out/vec")
    val rows = served.collect().map(_.toSeq).toSet
    assert(rows.size.toLong == n)
    assert(served.select("vec_id").distinct().count() == n)
    // the bootstrap codebook froze at batch 0; a replayed later batch
    // re-assigns against it and republishes identical content
    val book = spark.read.parquet(s"$out/vec/codebook")
      .collect().map(_.toSeq.toString).sorted.toSeq
    val chunk1 = vecs.grouped((vecs.size + 2) / 3).toSeq(1)
    streaming.CurationStream.ingestVectorBatch(
      chunk1.toDF("vec_id", "emb"), s"$out/vec", 1L)
    assert(graft.operators.Similarity.vecStandingIndex(spark, s"$out/vec")
      .collect().map(_.toSeq).toSet == rows)
    assert(spark.read.parquet(s"$out/vec/codebook")
      .collect().map(_.toSeq.toString).sorted.toSeq == book)
    // an empty batch neither bootstraps nor publishes
    streaming.CurationStream.ingestVectorBatch(
      Seq.empty[(Long, Array[Double])].toDF("vec_id", "emb"), s"$out/vec", 42L)
    assert(!new java.io.File(s"$out/vec/assign/shard=b42").exists())
  }
}
