package graft.tools

import graft.GraftSession

/** Controlled A/B of the d16 containment verify regimes on the
  * boilerplate-wrapped (d33) corpus: forced CountingJoin vs PairArrays
  * vs PairRestricted, INTERLEAVED reps so box tenancy inflates every
  * regime equally — the isolation the cross-run ScaleBench numbers
  * can't give on a ~50%-duty-cycle shared box.
  *
  * Usage: runMain graft.tools.RegimeProbe <dir> <reps> [regimes...]
  * Prints one `REGIME <dir> <name> rep=<k> sec=<t>` line per run.
  */
object RegimeProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args(1).toInt
    val wanted = if (args.length > 2) args.drop(2).toSet
                 else Set("counting", "arrays", "pair")
    val spark = GraftSession("local[32]",
      sys.env.getOrElse("GRAFT_SCALE_SHUFFLE", "32").toInt)
    import graft.operators.Dedup
    val regimes: Seq[(String, Dedup.VerifyRegime)] = Seq(
      "counting" -> Dedup.CountingJoin,
      "arrays" -> Dedup.PairArrays,
      "pair" -> Dedup.PairRestricted).filter(r => wanted(r._1))
    val docs = graft.sources.Tables.documents(spark, dir)
    val wrapped = Dedup.boilerplateWrapped(docs)
    wrapped.write.mode("overwrite").format("noop").save() // warm the scan
    for (rep <- 1 to reps; (name, reg) <- regimes) {
      val t0 = System.nanoTime()
      val n = Dedup.containmentDedupOfDocs(wrapped, Some(reg)).count()
      GraftSession.releaseQueryCaches(spark)
      val t = (System.nanoTime() - t0) / 1e9
      val c = Dedup.lastContainmentCensus.get()
      println(f"REGIME $dir $name rep=$rep rows=$n sec=$t%.2f census=$c load=${
        java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage}%.1f")
    }
    spark.stop()
  }
}
