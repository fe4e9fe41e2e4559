package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The growing shard index keeps one per-doc tier: a tick publishes one
  * index partition and one removal report, in a pinned number of jobs,
  * and an index in the older two-tier layout is refused by name.
  */
class ShardIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tick(indexDir: String, shard: Int): Long =
    Dedup.shardIngest(spark, TestSpark.sf, indexDir, shard, 4).count()

  test("a warm shardIngest tick publishes one index tier partition in a pinned job count") {
    val idx = Files.createTempDirectory("graft_tick_jobs").toString
    // the cold tick claims the banding; the second is the first to probe
    // a published tier
    tick(idx, 0)
    tick(idx, 1)
    val (_, jobs) = TestSpark.jobsOf(tick(idx, 2))
    // the documents read's schema 1, the tier publish 2 (its aggregation
    // and its write), the report publish 9 (the probe's shuffle and
    // broadcast stages and its write), the returned frame's count 2.
    // The two-tier index ran 27.
    assert(jobs == 14, s"a warm shard tick ran $jobs jobs")
    assert(new java.io.File(idx).list().filterNot(_.startsWith(".")).sorted.toSeq ==
      Seq("_banding", "docs", "removals"))
    assert(graft.sources.Sinks.shardKeys(spark, s"$idx/docs") == Seq("0", "1", "2"))
    spark.catalog.clearCache()
  }

  test("an index holding the older bands/ or sets/ tier is refused with the dir named") {
    for (old <- Seq("bands", "sets")) {
      val idx = Files.createTempDirectory("graft_tick_old").toString
      tick(idx, 0)
      Files.createDirectories(java.nio.file.Paths.get(s"$idx/$old/shard=0"))
      val e = intercept[IllegalArgumentException](tick(idx, 1))
      assert(e.getMessage.contains(s"$idx/$old"), e.getMessage)
      // compaction reads the same listing, so it refuses too
      assert(intercept[IllegalArgumentException](Dedup.compactIndex(spark, idx))
        .getMessage.contains(s"$idx/$old"))
    }
  }
}
