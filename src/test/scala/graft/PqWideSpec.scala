package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** The 8-bit PQ path (the production code width): the shipped q49/q50
  * tier is gated at 16 codes because the sf0.1 holdout cells are too
  * small to populate 256 codewords, so this spec GENERATES a residual
  * corpus big enough (4k vectors × 4 subspaces of deterministic
  * hash-derived subvectors) and drives the width-parameterized trainer
  * at ks=256, pinning exactly what the gate comment promises:
  * codebooks populate, codes stay in range, and the wider codebook
  * strictly tightens quantization error vs the 16-code tier on the
  * SAME corpus.
  */
class PqWideSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // deterministic pseudo-random subvectors: value = fractional part of
  // a md5-free integer hash — reproducible on any partitioning
  private def subs = {
    import spark.implicits._
    spark.range(0L, 4000L).toDF("vec_id")
      .withColumn("m", explode(sequence(lit(0L), lit(3L))))
      .withColumn("rm", transform(sequence(lit(0), lit(3)),
        p => (pmod(col("vec_id") * 2654435761L + col("m") * 7919L
          + p.cast("long") * 104729L, lit(1000L)).cast("double") / 500.0) - 1.0))
  }

  private def meanErr(s: org.apache.spark.sql.DataFrame,
                      book: org.apache.spark.sql.DataFrame,
                      codes: org.apache.spark.sql.DataFrame): Double =
    s.join(codes, Seq("vec_id", "m"))
      .join(book, Seq("m", "code"))
      .select(aggregate(
        zip_with(col("rm"), col("code_emb"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x).as("d2"))
      .agg(avg(col("d2"))).head().getDouble(0)

  test("ks=256 codebooks populate on a large-enough corpus and beat ks=16 error") {
    val s = subs.persist()
    try {
      val book16 = Similarity.pqBookOf(s, 16).persist()
      val book256 = Similarity.pqBookOf(s, 256).persist()
      val codes16 = Similarity.pqAssignTo(s, book16)
        .select(col("vec_id"), col("m"), col("code")).persist()
      val codes256 = Similarity.pqAssignTo(s, book256)
        .select(col("vec_id"), col("m"), col("code")).persist()

      // every subspace's 8-bit codebook actually populates: 4000
      // vectors / 256 seeds ≈ 16 members each — no degenerate collapse
      val perSub = codes256.groupBy("m")
        .agg(countDistinct(col("code")).as("n"))
        .collect().map(r => r.getAs[Long]("m") -> r.getAs[Long]("n")).toMap
      assert(perSub.size == 4)
      perSub.foreach { case (m, n) =>
        assert(n >= 200, s"subspace $m populated only $n of 256 codes")
      }
      // codes stay in range at both widths
      assert(codes256.filter(col("code") < 0 || col("code") >= 256).count() == 0)
      assert(codes16.filter(col("code") < 0 || col("code") >= 16).count() == 0)

      // the wider codebook strictly tightens reconstruction error
      val (e16, e256) = (meanErr(s, book16, codes16), meanErr(s, book256, codes256))
      assert(e256 < e16 * 0.5,
        s"256-code error $e256 not well under 16-code error $e16")
    } finally {
      s.unpersist(false); spark.catalog.clearCache()
    }
  }
}
