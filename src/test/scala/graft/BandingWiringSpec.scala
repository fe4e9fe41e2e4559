package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The d26 decision DRIVES the standing artifacts: force a non-default
  * banding decision on an isolated corpus copy (its own fingerprint →
  * its own artifact family) and prove d03's candidate artifact, d07's
  * verified-pair pipeline, and d19's standing index tier are all built
  * at the forced (b, r) — paths keyed by the banding, results equal to
  * an independent rebuild at that banding. This is the wiring the
  * oracle can't see (on the real corpus the retune derives the shipped
  * 6×3, so the DuckDB replay agrees by construction); here the choice
  * is different from the default, so any consumer still hard-coded to
  * 6×3 fails loudly.
  */
class BandingWiringSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_banding").toString
    Files.copy(Paths.get(s"${TestSpark.sf}/documents.parquet"),
      Paths.get(s"$d/documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // force the decision BEFORE any consumer probes it: a published
    // (9, 2) band_choice artifact — Sinks.ensure serves it as-is
    import spark.implicits._
    Seq((9L, 2L)).toDF("n_bands", "n_rows")
      .write.parquet(graft.sources.Sinks.artifactPath(spark, "band_choice", d))
    d
  }

  // the spec's own shingle stage (3-gram sliding windows, duplicates
  // kept) — independent of Dedup's private helper
  private def shinglesOf(docs: org.apache.spark.sql.DataFrame) = docs
    .select(col("doc_id"),
      regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("t"))
    .filter(size(col("t")) >= 3)
    .select(col("doc_id"), col("t"),
      explode(sequence(lit(1), size(col("t")) - 2)).as("i"))
    .select(col("doc_id"), concat_ws(" ",
      element_at(col("t"), col("i")),
      element_at(col("t"), col("i") + 1),
      element_at(col("t"), col("i") + 2)).as("shingle"))

  private def expectedCandidates(nb: Int, nr: Int) = {
    val bands = Dedup.minhashBandsOf(
      shinglesOf(graft.sources.Tables.documents(spark, dir)), nb, nr)
    bands.as("a").join(bands.as("b"),
        col("a.band_j") === col("b.band_j") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  private def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  test("d03 builds and keys the candidate artifact at the forced banding") {
    assert(Dedup.chosenBanding(spark, dir) == ((9, 2)))
    val got = Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("n_shared_bands"))).toSet
    val want = expectedCandidates(9, 2).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("n_shared_bands"))).toSet
    assert(got == want)
    assert(got != expectedCandidates(6, 3).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("n_shared_bands"))).toSet,
      "9x2 and 6x3 coincide on this corpus — the forcing proves nothing")
    // the banding keys the path: only the chosen artifact exists
    val base = graft.sources.Sinks.artifactPath(spark, "lsh_candidates", dir)
    assert(exists(s"${base}_b9r2") && !exists(s"${base}_b6r3"))
    spark.catalog.clearCache()
  }

  test("d07 verifies the forced-banding candidate slice") {
    val got = Dedup.dedupPipeline(spark, dir).collect()
      .map(r => (r.getAs[Long]("removed_doc_id"), r.getAs[Long]("kept_partner"),
        r.getAs[Long]("n_dup_pairs"))).toSet
    // independent twin: exact set-Jaccard ≥ 0.5 on exactly the 9×2
    // candidate pairs (no lang/length pre-filter — the verifier has
    // none), keep-min survivorship
    val docs = graft.sources.Tables.documents(spark, dir)
    val sets = shinglesOf(docs).distinct()
    val sizes = sets.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val cand = expectedCandidates(9, 2).select(col("doc_a"), col("doc_b"))
    val want = cand
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .filter(col("inter").cast("double") /
        (col("na.n") + col("nb.n") - col("inter")).cast("double") >= 0.5)
      .groupBy(col("doc_b").as("removed_doc_id"))
      .agg(min(col("doc_a")).as("kept_partner"), count(lit(1)).as("n_dup_pairs"))
      .collect()
      .map(r => (r.getAs[Long]("removed_doc_id"), r.getAs[Long]("kept_partner"),
        r.getAs[Long]("n_dup_pairs"))).toSet
    assert(got == want && got.nonEmpty)
    spark.catalog.clearCache()
  }

  test("d19 probes a forced-banding standing index; incremental == full rebuild") {
    val report = Dedup.shardDedup(spark, dir)
    // the standing index tier is keyed by the forced banding
    val whDir = spark.conf.get("spark.sql.warehouse.dir")
    val fs = new org.apache.hadoop.fs.Path(whDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tierFam = new org.apache.hadoop.fs.Path(s"$whDir/doc_index")
    val dirKey = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val mine = fs.listStatus(tierFam).map(_.getPath.getName)
      .filter(_.contains(dirKey))
    assert(mine.nonEmpty && mine.forall(_.endsWith("_b9r2")))
    // keep-min equality at the forced banding: standing removals ∪
    // shard report == full-rebuild removal set, all at 9×2
    val docs = graft.sources.Tables.documents(spark, dir)
    val isShard = pmod(col("doc_id"), lit(5L)) === 4
    val full = Dedup.removalSetOf(docs, (9, 2)).collect().map(_.getLong(0)).toSet
    val standing = Dedup.removalSetOf(docs.filter(!isShard), (9, 2))
      .collect().map(_.getLong(0)).toSet
    val probe = report.collect().map(_.getAs[Long]("removed_doc_id")).toSet
    assert((standing ++ probe) == full)
    spark.catalog.clearCache()
  }
}
