package graftbench

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{Cleaning, TextAnalysis}
import graft.sources.Tables

/** The class-loading run behind the benchmark's class-data-sharing
  * archive. `run.py` starts it once per build with
  * `-XX:ArchiveClassesAtExit`; every benchmark JVM then maps the classes
  * it loaded (session start-up, Catalyst, codegen, parquet, a shuffle,
  * a streaming micro-batch) from the archive instead of loading and
  * verifying them from the jars again. It touches each code path once,
  * on the generated inputs, and checks nothing.
  *
  * Usage: Train <workDir> <inputDir>
  */
object Train {
  def main(args: Array[String]): Unit = {
    val Array(work, in) = args
    val spark = GraftSession.builder("local[2]", 2)
      .config("spark.sql.warehouse.dir", s"$work/artifacts")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Cleaning.validationGates(spark, in).collect()
    TextAnalysis.piiScrub(spark, in).write.parquet(s"$work/pii")
    val docs = spark.read.parquet(s"$work/pii")
    docs.groupBy(col("doc_id") % 7).agg(count(lit(1))).join(docs.limit(10),
      col("(doc_id % 7)") === col("doc_id")).collect()
    val q = spark.readStream.schema(Tables(spark, in, "lineitem").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/lineitem.parquet")
      .groupBy(col("l_returnflag")).count()
      .writeStream.outputMode("complete").format("memory").queryName("train")
      .option("checkpointLocation", s"$work/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    spark.stop()
  }
}
