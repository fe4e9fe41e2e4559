package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions.dot
import graft.operators.Similarity

/** Pins the grouped map-form argmin (NearestInGroup inside
  * Similarity.pqAssignTo) bit-identical to the declarative shape it
  * replaced: equi-join on the group key → groupBy →
  * min(struct(d2, code)). Covers the smallest-id tie-break and
  * malformed vectors landing on (smallest id in group, null score).
  */
class NearestInGroupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The retired declarative PQ code-assignment, verbatim. */
  private def oldPqAssign(subs: DataFrame, book: DataFrame): DataFrame = {
    def d2R(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      round(dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b), 4)
    subs.join(broadcast(book), Seq("m"))
      .groupBy(col("vec_id"), col("m"))
      .agg(first(col("rm")).as("rm"),
        min(struct(d2R(col("rm"), col("code_emb")).as("d2"),
          col("code").as("code"))).as("best"))
      .select(col("vec_id"), col("m"), col("rm"), col("best.code").as("code"))
  }

  test("PQ code assignment matches the declarative min-struct on real residuals") {
    // real embedding slices as residual stand-ins: 3 subspaces of dim 4
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val subs = e.select(col("vec_id"),
        explode(sequence(lit(0L), lit(2L))).as("m"), col("emb"))
      .select(col("vec_id"), col("m"),
        slice(col("emb"), (col("m") * 4 + 1).cast("int"), lit(4)).as("rm"))
    val book = subs.groupBy(col("m"), pmod(col("vec_id"), lit(5L)).as("code"))
      .agg(min(struct(col("vec_id"), col("rm"))).as("s"))
      .select(col("m"), col("code"), col("s.rm").as("code_emb"))
    book.cache().count()
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
    val got = Similarity.pqAssignTo(subs, book).collect()
      .map(r => key(r) -> r.getLong(3)).toMap
    val want = oldPqAssign(subs, book).collect()
      .map(r => key(r) -> r.getLong(3)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, c) => assert(c == want(k), s"$k: $c != ${want(k)}") }
    book.unpersist()
  }

  test("PQ corner semantics: exact d2 ties -> smallest code; malformed -> (smallest, null)") {
    import spark.implicits._
    val subs = Seq(
      (0L, 0L, Array(1.0, 0.0)),      // equidistant from codes 0 and 1
      (1L, 0L, Array(1.0, 2.0, 3.0)), // length mismatch: scores nothing
      (2L, 0L, Array(0.0, 3.0)))      // plain case
      .toDF("vec_id", "m", "rm")
    val book = Seq(
      (0L, 0L, Array(0.0, 1.0)),
      (0L, 1L, Array(0.0, -1.0)),
      (0L, 2L, Array(0.0, 2.9)))
      .toDF("m", "code", "code_emb")
    val got = Similarity.pqAssignTo(subs, book).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val want = oldPqAssign(subs, book).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == want)
    assert(got(0L) == 0L) // tie between codes 0 and 1 -> smallest
    assert(got(1L) == 0L) // malformed -> smallest code in subspace
    assert(got(2L) == 2L)
  }
}
