package graft.tools

import graft.GraftSession

/** Strong-scaling measurement — the OTHER axis of the cluster claim:
  * fix the data (one sf directory), vary the core count, and report
  * each query's speedup curve. [[ScaleBench]] answers "does the work
  * grow linearly in the data?"; this answers "does the work actually
  * PARALLELIZE?" — a plan that hides a driver-side loop, a
  * single-partition window, or a serialized stage shows a flat curve
  * here no matter how linear its data scaling looks.
  *
  * Discipline matches ScaleBench: one session per core count
  * (`local[c]`, built and torn down sequentially in this JVM), solo
  * queries, rep 1 absorbs artifact builds / JIT, warm = min of the
  * remaining reps. `spark.sql.shuffle.partitions` stays FIXED at 32
  * across points so only executor parallelism varies — on a real
  * cluster the partition count scales with the cluster, but holding it
  * constant here isolates the question "can these 32 partitions be
  * consumed concurrently?", which is the property that transfers.
  *
  * Reported per query: warm seconds by core count, and the parallel
  * efficiency at the widest point,
  *   eff = (t_min_cores / t_max_cores) / (max_cores / min_cores)
  * (1.0 = perfect strong scaling; small queries degrade toward their
  * fixed overhead floor — read them by absolute time, not efficiency).
  *
  * Usage: runMain graft.tools.StrongScale <reps> <sfDir> <cores,cores,...> [-- names...]
  * Prints one JSON line (STRONGSCALE ...) consumed by SCALE.md.
  */
object StrongScale {

  def main(args: Array[String]): Unit = {
    val reps = args(0).toInt
    val sfDir = args(1)
    val (coreArg, nameArgs) = args.drop(2).span(_ != "--")
    val cores = coreArg.head.split(",").map(_.trim.toInt).toSeq.sorted
    require(cores.size >= 2, "need at least two core counts")
    val names =
      if (nameArgs.length > 1) nameArgs.drop(1).toSeq
      else ScaleBench.defaultNames

    def measure(c: Int): Map[String, (Double, Double)] = {
      val spark = GraftSession(s"local[$c]", 32)
      try ScaleBench.soloReps(spark, sfDir, names, reps, s"STRONGTIME local[$c]")
      finally spark.stop()
    }

    val measured: Seq[(Int, Map[String, (Double, Double)])] =
      cores.map(c => c -> measure(c))
    val (cLo, lo) = measured.head
    val (cHi, hi) = measured.last
    val entries = names.map { n =>
      val byCores = measured.map { case (c, m) =>
        f""""$c":{"cold":${m(n)._1}%.3f,"warm":${m(n)._2}%.3f}"""
      }
      val speedup = lo(n)._2 / hi(n)._2
      val eff = speedup / (cHi.toDouble / cLo)
      s""""$n":{"by_cores":{${byCores.mkString(",")}},""" +
        f""""speedup_${cLo}to$cHi":$speedup%.2f,"efficiency":$eff%.2f}"""
    }
    println(s"""STRONGSCALE {"metric":"strong_scaling","sf_dir":"$sfDir",""" +
      s""""cores":[${cores.mkString(",")}],"queries":{${entries.mkString(",")}}}""")
  }
}
