package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Scale-factor amplifier for the test corpus: produce an N× dataset
  * from an existing sf directory by replicating every table with
  * disjoint key spaces, so the SCALING MEASUREMENT (tools.ScaleBench)
  * has a larger corpus whose per-replica workload profile is exactly
  * the source's.
  *
  * Replication is designed so the TRUE work scales linearly by
  * construction — the measurement then isolates how the ENGINE scales:
  *
  *  - every key column shifts by `replica × (max_key + 1)` — replicas
  *    never join across, so join/group cardinalities per replica stay
  *    identical to the source;
  *  - document text gets a per-replica token suffix (`tok~rK`), a
  *    BIJECTIVE token mapping: shingle equality inside a replica is
  *    preserved exactly (the near-dup structure is the source's), while
  *    cross-replica vocabularies are disjoint — no shingle, MinHash
  *    band, 13-gram, or SimHash profile ever collides across replicas,
  *    so dedup candidate counts scale exactly ×N, not ×N²;
  *  - embeddings rotate their dimensions by `replica` positions AND
  *    flip a per-replica deterministic sign pattern (splitmix64 bits
  *    of the replica id) — a signed permutation preserves all
  *    within-replica dot products and norms (identical cluster
  *    geometry per replica) while cross-replica cosines decorrelate,
  *    so ANN/SemDeDup cell structure scales as N independent copies.
  *    The sign flip is load-bearing at factor > dim: rotation alone
  *    has only `dim` distinct classes, and the 100× scaling record
  *    caught replicas 64 apart carrying IDENTICAL vectors (72% of the
  *    sf10 corpus exact cross-replica dups);
  *  - nation/region (bounded dims) and every date/category/segment
  *    domain stay UNreplicated — at 100 TB the dimension tables and
  *    group-by domains don't grow with the fact volume, and neither
  *    should the benchmark's.
  *
  * Usage: runMain graft.tools.ScaleGen <srcDir> <outDir> <factor> [tables...]
  * (trailing table names restrict regeneration to those tables)
  */
object ScaleGen {

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).collect().head.getLong(0)

  /** splitmix64 finalizer — a bijection on 64-bit ints, used as the
    * per-replica sign-flip mask source (distinct replicas ⇒ distinct
    * masks, unconditionally).
    */
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt
    // optional trailing table names: regenerate only those (used to
    // re-emit a single corrected table without rewriting the rest)
    val only = args.drop(3).toSet
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = GraftSession("local[32]")
    import graft.sources.Tables

    val orderStride = maxOf(Tables.orders(spark, srcDir), "o_orderkey") + 1
    val custStride = maxOf(Tables.customer(spark, srcDir), "c_custkey") + 1
    val partStride = maxOf(Tables.part(spark, srcDir), "p_partkey") + 1
    val suppStride = maxOf(Tables.supplier(spark, srcDir), "s_suppkey") + 1
    val docStride = maxOf(Tables.documents(spark, srcDir), "doc_id") + 1
    val vecStride = maxOf(Tables.embeddings(spark, srcDir), "vec_id") + 1
    val eventStride = maxOf(Tables.events(spark, srcDir), "event_id") + 1
    val userStride = maxOf(Tables.events(spark, srcDir), "user_id") + 1
    val dim = Tables.embeddings(spark, srcDir)
      .select(size(col("embedding"))).head().getInt(0)

    def shifted(df: DataFrame, shifts: Map[String, Long])(r: Int): DataFrame =
      shifts.foldLeft(df) { case (d, (c, stride)) =>
        d.withColumn(c, col(c) + lit(r.toLong * stride))
      }

    // File counts are sized so the SCAN never caps parallelism on the
    // measurement box: with ~1 MB files each file is one input split,
    // so a 16-file table pins every pre-shuffle stage (shingling,
    // MinHash, embedding math — the CPU-heavy legs) at 16-way whatever
    // local[c] says. That's a generator artifact, not a plan property
    // (a real 100 TB table is thousands of splits) — the round-9
    // strong-scaling record flattening on d19/d07 at 16→32 cores is
    // what exposed it. 64 files for the fact-sized tables keeps 2
    // waves at local[32] while staying well clear of the
    // small-files regime.
    def replicate(name: String, mk: Int => DataFrame, files: Int): Unit =
      if (only.isEmpty || only.contains(name)) {
        val out = (0 until factor).map(mk).reduce(_ unionAll _)
        out.repartition(files).write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet")
        println(s"SCALEGEN $name x$factor -> $outDir/$name.parquet")
      }

    // bounded dims: one copy
    if (only.isEmpty || only.contains("region"))
      spark.read.parquet(s"$srcDir/region.parquet").write.mode("overwrite")
        .parquet(s"$outDir/region.parquet")
    if (only.isEmpty || only.contains("nation"))
      spark.read.parquet(s"$srcDir/nation.parquet").write.mode("overwrite")
        .parquet(s"$outDir/nation.parquet")

    replicate("customer",
      shifted(Tables.customer(spark, srcDir), Map("c_custkey" -> custStride)),
      8)
    replicate("supplier",
      shifted(Tables.supplier(spark, srcDir), Map("s_suppkey" -> suppStride)),
      4)
    replicate("part",
      shifted(Tables.part(spark, srcDir), Map("p_partkey" -> partStride)),
      8)
    replicate("orders",
      shifted(Tables.orders(spark, srcDir),
        Map("o_orderkey" -> orderStride, "o_custkey" -> custStride)),
      32)
    replicate("lineitem",
      shifted(Tables.lineitem(spark, srcDir),
        Map("l_orderkey" -> orderStride, "l_partkey" -> partStride,
          "l_suppkey" -> suppStride)),
      64)
    replicate("events",
      shifted(Tables.events(spark, srcDir),
        Map("event_id" -> eventStride, "user_id" -> userStride)),
      64)
    replicate("documents", { r =>
      val base = Tables.documents(spark, srcDir)
        .withColumn("doc_id", col("doc_id") + lit(r.toLong * docStride))
      if (r == 0) base
      else base
        .withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1~r" + r))
        .withColumn("n_chars", length(col("text")))
    }, 64)
    replicate("embeddings", { r =>
      val base = Tables.embeddings(spark, srcDir)
        .withColumn("vec_id", col("vec_id") + lit(r.toLong * vecStride))
      // Rotation alone has only `dim` distinct classes — at factor >
      // dim, replicas `dim` apart got IDENTICAL vectors (the 100×
      // record measured 72% of sf10 vectors as exact cross-replica
      // dups, silently inflating every embedding-family measurement).
      // A per-replica sign-flip mask (splitmix64 bits of r — a 64-bit
      // bijection, so masks are distinct for every replica) fixes the
      // class count at 2^64 while preserving the contract exactly:
      // within a replica s_i² = 1 leaves every dot product and norm
      // untouched; across replicas the independent ±1 patterns
      // decorrelate cosines.
      val rot = r % dim
      if (r == 0) base
      else {
        val rotated =
          if (rot == 0) base
          else base.withColumn("embedding",
            concat(
              slice(col("embedding"), rot + 1, dim - rot),
              slice(col("embedding"), 1, rot)))
        val mask = splitmix64(r.toLong)
        val signs = array((0 until dim).map(i =>
          lit(if (((mask >>> (i % 64)) & 1L) == 1L) -1.0f else 1.0f)): _*)
        rotated.withColumn("embedding",
          zip_with(col("embedding"), signs, (x, s) => x * s))
      }
    }, 64)

    spark.stop()
  }
}
