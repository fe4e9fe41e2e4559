package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Two-point scaling measurement: run a set of queries at two scale
  * factors (same session, same `local[32]` discipline as Bench) and
  * report, per query, the cold time (rep 1 — includes any artifact
  * build the query carries), the warm minimum, and the empirical
  * scaling exponent
  *
  *   e = ln(t_big / t_small) / ln(factor)
  *
  * on the warm minimum: e ≈ 1 is linear scaling (the design claim for
  * every blocked/bucketed plan), e < 1 means fixed per-query overhead
  * still dominates at the small point, e > 1 is superlinear — a plan
  * whose work grows faster than its data, which is exactly what the
  * 100 TB story must not contain.
  *
  * With THREE OR MORE points the report adds the falsifiable check a
  * two-point exponent can't make: fit t = a + b·s (fixed overhead +
  * linear work) through the SMALLEST and LARGEST points only, then
  * PREDICT each interior point and report the relative error — a plan
  * with superlinear work (pairs, resorts, replans) overshoots the
  * interior prediction systematically; a linear plan lands on it.
  *
  * Usage:
  *   runMain graft.tools.ScaleBench <reps> <dir>=<sf> <dir>=<sf>... [-- names...]
  * Prints one JSON line (SCALEBENCH ...) consumed by SCALE.md.
  *
  * `GRAFT_MASTER` (default `local[32]`) overrides the master so
  * the SAME harness measures the other scaling axis — STRONG scaling:
  * fix the data point, vary the core count (`local[4]`, `local[8]`,
  * ...), and the per-query speedup curve shows whether the plans
  * actually parallelize (shuffle-partitioned work should approach
  * t ∝ 1/cores until fixed overhead dominates) or secretly serialize
  * on a driver-side or single-partition step.
  */
object ScaleBench {

  val defaultNames: Seq[String] = Seq(
    // the heaviest entries per BENCH_r08, spanning every family:
    // warehouse build, exact/blocked/shard dedup, IVF, affinity
    // mining, DSIR, interval-join attribution
    "q12_fact_sales", "q47_incremental_fact",
    "d01_exact_dedup", "d02_ngram_jaccard", "d03_minhash_lsh",
    "d07_dedup_pipeline", "d16_containment_dedup", "d19_shard_dedup",
    "d22_semantic_dedup",
    "q24_ivf_ann", "q53_basket_affinity", "q55_lead_time",
    "t16_dsir_weights", "t19_dsir_select_per_source",
    "e10_click_attribution")

  /** The solo-rep loop ScaleBench and StrongScale share: warm the
    * session on `dir`, then time each query alone `reps` times — rep 1
    * is `cold` (artifact builds and JIT land there), `warm` is the min
    * of the later reps. Every rep ends with a full
    * [[GraftSession.releaseQueryCaches]]: a bare `clearCache()` leaves
    * q61/q63/d35's localCheckpoint blocks behind for the next rep.
    * Prints `<label> <name> cold=… warm=…` per query and returns
    * name → (cold, warm).
    */
  private[tools] def soloReps(spark: SparkSession, dir: String, names: Seq[String],
      reps: Int, label: String): Map[String, (Double, Double)] = {
    GraftSession.warmUp(spark, dir)
    names.map { name =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).count()
        GraftSession.releaseQueryCaches(spark)
        (System.nanoTime() - t0) / 1e9
      }
      val warm = if (times.size > 1) times.tail.min else times.head
      println(f"$label $name cold=${times.head}%.3f warm=$warm%.3f")
      name -> (times.head, warm)
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val reps = args(0).toInt
    val (pointArgs, nameArgs) = args.drop(1).span(_ != "--")
    val points: Seq[(String, Double)] = pointArgs.toSeq.map { a =>
      val Array(dir, sf) = a.split("=")
      dir -> sf.toDouble
    }.sortBy(_._2)
    require(points.size >= 2, "need at least two <dir>=<sf> points")
    val names = if (nameArgs.length > 1) nameArgs.drop(1).toSeq else defaultNames
    // The 32-partition pin is the comparability discipline (same plan
    // at every SF); production scales shuffle partitions with input
    // volume. GRAFT_SCALE_SHUFFLE exists to run the falsification the
    // pin can't: when a top-end point exceeds the linear envelope,
    // re-running it with partitions ∝ data separates spill (the pin's
    // per-partition bytes growing past task memory — time drops back
    // to the envelope) from genuine work growth (time stays high).
    // GRAFT_SCALE_SHUFFLE=prop is the PRODUCTION CONFIGURATION record
    // (round-11): per-point partitions = max(32, 32·sf/0.1) — constant
    // per-task input bytes relative to the official sf0.1 bench config,
    // which is what a real cluster's partition sizing does. Set before
    // each point's measurements (runtime conf, same session).
    val shuffleEnv = sys.env.getOrElse("GRAFT_SCALE_SHUFFLE", "32")
    val propMode = shuffleEnv == "prop"
    val shuffle = if (propMode) 32 else shuffleEnv.toInt
    val spark = GraftSession("local[32]", shuffle)

    def measure(dir: String): Map[String, (Double, Double)] = {
      if (propMode) {
        val sf = points.find(_._1 == dir).map(_._2).getOrElse(0.1)
        val n = math.max(32, math.round(32.0 * sf / 0.1).toInt)
        spark.conf.set("spark.sql.shuffle.partitions", n)
        println(s"SCALECONF $dir shuffle.partitions=$n")
      }
      soloReps(spark, dir, names, reps, s"SCALETIME $dir")
    }

    val measured: Seq[((String, Double), Map[String, (Double, Double)])] =
      points.map(p => p -> measure(p._1))
    val (sfLo, lo) = (points.head._2, measured.head._2)
    val (sfHi, hi) = (points.last._2, measured.last._2)
    val entries = names.map { n =>
      val times = measured.map { case ((_, sf), m) =>
        f""""$sf%s":{"cold":${m(n)._1}%.3f,"warm":${m(n)._2}%.3f}"""
      }
      val (wLo, wHi) = (lo(n)._2, hi(n)._2)
      val e = math.log(wHi / wLo) / math.log(sfHi / sfLo)
      // endpoint linear fit t = a + b·sf; interior points get a
      // prediction + relative error (negative = came in UNDER linear)
      val b = (wHi - wLo) / (sfHi - sfLo)
      val a = wLo - b * sfLo
      val interior = measured.drop(1).dropRight(1).map { case ((_, sf), m) =>
        val pred = a + b * sf
        val err = (m(n)._2 - pred) / pred
        f""""$sf%s":{"pred":$pred%.3f,"actual":${m(n)._2}%.3f,"rel_err":$err%.3f}"""
      }
      val fitPart =
        if (interior.isEmpty) ""
        else s""","linear_fit":{"a":${f"$a%.3f"},"b_per_sf":${f"$b%.3f"},"interior":{${interior.mkString(",")}}}"""
      s""""$n":{"by_sf":{${times.mkString(",")}},"exponent":${f"$e%.3f"}$fitPart}"""
    }
    val ptsJson = points.map(p => s""""${p._2}":"${p._1}"""").mkString(",")
    println(s"""SCALEBENCH {"metric":"scaling","points":{$ptsJson},"queries":{${entries.mkString(",")}}}""")
    spark.stop()
  }
}
