package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.streaming.FactStream
import graft.streaming.FactStream.LineitemEvent

/** The streaming fact ingest must land EXACTLY the rows the batch
  * build derives — same joins, same derived columns, same month
  * partitioning — across multiple micro-batches that revisit the same
  * month partitions (the file sink's exactly-once commit is the
  * property under test; a re-delivered batch double-counting would
  * break row identity).
  */
class FactStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streamed fact == batch fact over multi-batch ingest into shared partitions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val li = graft.sources.Tables.lineitem(spark, TestSpark.sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .as[LineitemEvent].collect().toSeq
    assert(li.nonEmpty)
    val orders = graft.sources.Tables.orders(spark, TestSpark.sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val part = graft.sources.Tables.part(spark, TestSpark.sf)
      .select(col("p_partkey"), col("p_type"))

    val src = MemoryStream[LineitemEvent]
    val out = java.nio.file.Files.createTempDirectory("graft_fact_stream").toString
    val q = FactStream.run(
      FactStream.factStream(src.toDF(), orders, part),
      s"$out/fact", s"$out/ckpt")
    try {
      // three chunks split by orderkey — NOT by date, so every chunk
      // holds rows of many months and later batches append into month
      // partitions earlier batches already created
      li.grouped((li.size + 2) / 3).foreach { chunk =>
        src.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.read.parquet(s"$out/fact").drop("month_key")
    val batch = graft.operators.Facts.factSalesFrom(
      li.toDF(), orders, part)
    assert(streamed.count() == li.size.toLong)
    assert(streamed.except(batch).count() == 0 &&
      batch.except(streamed).count() == 0,
      "stream and batch facts must be row-identical")
    // month partitions exist and a partition read prunes
    val months = spark.read.parquet(s"$out/fact")
      .select("month_key").distinct().count()
    assert(months > 10, s"expected many month partitions, got $months")
  }

  test("each fact micro-batch writes its month files from more than one task, one file per month") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val li = graft.sources.Tables.lineitem(spark, TestSpark.sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .as[LineitemEvent].collect().toSeq
    val orders = graft.sources.Tables.orders(spark, TestSpark.sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val part = graft.sources.Tables.part(spark, TestSpark.sf)
      .select(col("p_partkey"), col("p_type"))

    val src = MemoryStream[LineitemEvent]
    val out = java.nio.file.Files.createTempDirectory("graft_fact_sink").toString
    val (_, stages) = TestSpark.stagesOf {
      val q = FactStream.run(
        FactStream.factStream(src.toDF(), orders, part),
        s"$out/fact", s"$out/ckpt")
      try li.grouped((li.size + 2) / 3).foreach { chunk =>
        src.addData(chunk: _*)
        q.processAllAvailable()
      } finally q.stop()
    }

    // a batch's sink-write stage is the one whose tasks wrote records;
    // the batches run one after another, so these are batches 0, 1, 2
    val writeTasks = stages
      .filter(_.taskMetrics.outputMetrics.recordsWritten > 0).map(_.numTasks)
    assert(writeTasks.size == 3, s"expected one sink-write stage per batch, got $writeTasks")
    writeTasks.zipWithIndex.foreach { case (tasks, b) =>
      assert(tasks > 1, s"batch $b wrote its month files from $tasks task(s)")
    }

    // the sink's metadata log lists each batch's files: one per month dir
    val log = java.nio.file.Paths.get(out, "fact", "_spark_metadata")
    for (b <- 0 to 2) {
      val dirs = java.nio.file.Files.readAllLines(log.resolve(b.toString)).asScala.toSeq
        .filter(_.startsWith("{"))
        .map(l => """"path":"([^"]+)"""".r.findFirstMatchIn(l).get.group(1))
        .map(p => p.substring(0, p.lastIndexOf('/')))
      assert(dirs.nonEmpty, s"batch $b wrote no files")
      val multi = dirs.groupBy(identity).collect { case (d, fs) if fs.size > 1 => d -> fs.size }
      assert(multi.isEmpty, s"batch $b wrote more than one file into $multi")
    }
  }
}
