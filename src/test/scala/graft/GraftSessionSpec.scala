package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The env-driven session config (settings.py analog): env wins over
  * code defaults, unset env leaves the harness behavior untouched, and
  * a malformed value fails with a pointed message instead of a stack
  * from inside session construction.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("no env → code defaults, optional keys absent") {
    val (m, conf) = GraftSession.resolvedConfig("local[*]", 32, Map.empty)
    assert(m == "local[*]")
    assert(conf("spark.sql.shuffle.partitions") == "32")
    assert(conf("spark.sql.adaptive.enabled") == "true")
    assert(conf("spark.sql.session.timeZone") == "UTC")
    assert(!conf.contains("spark.sql.autoBroadcastJoinThreshold"))
    assert(!conf.contains("spark.sql.warehouse.dir"))
    // Bench's session, GraftSession(s"local[$cpus]", cpus), resolves to
    // exactly the map Bench built by hand before it moved onto the
    // factory, plus skewJoin.enabled=true — Spark's own default
    Seq(8, 32).foreach { cpus =>
      val benchHandBuilt = Map(
        "spark.sql.shuffle.partitions" -> cpus.toString,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false")
      val (bm, bconf) = GraftSession.resolvedConfig(s"local[$cpus]", cpus, Map.empty)
      assert(bm == s"local[$cpus]")
      assert(bconf == benchHandBuilt + ("spark.sql.adaptive.skewJoin.enabled" -> "true"),
        s"cpus=$cpus: ${bconf.toSet diff benchHandBuilt.toSet}")
    }
  }

  test("env overrides master, partitions, broadcast threshold, warehouse dir") {
    val env = Map(
      "GRAFT_MASTER" -> "spark://h:7077",
      "GRAFT_SHUFFLE_PARTITIONS" -> "96",
      "GRAFT_BROADCAST_THRESHOLD" -> "-1",
      "GRAFT_WAREHOUSE_DIR" -> "/mnt/wh",
      "UNRELATED" -> "ignored")
    val (m, conf) = GraftSession.resolvedConfig("local[*]", 32, env)
    assert(m == "spark://h:7077")
    assert(conf("spark.sql.shuffle.partitions") == "96")
    assert(conf("spark.sql.autoBroadcastJoinThreshold") == "-1")
    assert(conf("spark.sql.warehouse.dir") == "/mnt/wh")
  }

  test("malformed shuffle partition count fails loudly") {
    val bad = Seq("zero" -> "0", "negative" -> "-4", "word" -> "many")
    bad.foreach { case (label, v) =>
      val e = intercept[IllegalArgumentException] {
        GraftSession.resolvedConfig("local[*]", 32,
          Map("GRAFT_SHUFFLE_PARTITIONS" -> v))
      }
      assert(e.getMessage.contains("GRAFT_SHUFFLE_PARTITIONS"), label)
    }
  }

  test("GraftSession is the only place in src/main that builds a session") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val stream = java.nio.file.Files.walk(root)
    val sites = try stream.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => new String(java.nio.file.Files.readAllBytes(p))
          .contains("SparkSession.builder()"))
        .map(p => root.relativize(p).toString).toSeq.sorted
      finally stream.close()
    assert(sites == Seq("graft/GraftSession.scala"),
      s"session built outside GraftSession: ${sites.filterNot(_ == "graft/GraftSession.scala")}")
  }
}
