package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). Extra args are a dev-only
    // query-name filter so one new operator can round-trip without
    // re-dumping the whole surface.
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.start(GraftSession.builder(s"local[$cpus]", cpus)
      // never emit INT96: DuckDB decodes INT96 as int64 NANOSECONDS, so a
      // far-future LTZ literal (9999-12-31) overflows and flips the
      // driver's hash even when every value is correct (round-1 q10/q11).
      // Verify's own key, not the factory's: it would change the files
      // every other session writes.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"))
    new java.io.File(outDir).mkdirs()
    // sorted: deterministic run order, and artifact BUILDERS run before
    // their probers (q24 < q32/q35, d03/d07 < d08/d09 alphabetically)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.isEmpty || only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators may persist() intermediates (d07) and the iterative
      // rows leave localCheckpoint blocks; don't leak either across the
      // other queries sharing this session
      GraftSession.releaseQueryCaches(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
