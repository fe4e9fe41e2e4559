package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Fetch, Sinks, Tables}

/** The source and sink layer: the JSON (REST-payload) source with
  * nested-object flattening and source tagging (the reference's
  * extract.py surface), the fetch seam, and the Sinks publish protocol.
  */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("json source: nested struct flattens like the API rating object") {
    val dir = Files.createTempDirectory("graft_json").toString
    Files.writeString(java.nio.file.Path.of(s"$dir/products.json"),
      """{"id":1,"title":"x","rating":{"rate":4.5,"count":120}}
        |{"id":2,"title":"y","rating":{"rate":3.0,"count":7}}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("title", StringType),
      StructField("rating", StructType(Seq(
        StructField("rate", DoubleType), StructField("count", LongType))))))
    val df = Tables.flattenStructs(
      Tables.readJson(spark, s"$dir/products.json", schema, "fake_store_api"))
    assert(df.columns.toSet ==
      Set("id", "title", "rating_rate", "rating_count", "_source", "_extracted_at"))
    assert(df.where("rating_count = 120").count() == 1)
  }

  test("stage-publish roundtrip preserves rows") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val df = spark.read.parquet(s"${TestSpark.sf}/region.parquet")
    val n = Sinks.stagePublish(df, s"$dir/region")
    assert(n == df.count())
    assert(spark.read.parquet(s"$dir/region").count() == n)
  }

  test("catalog lists every table with columns and row counts") {
    val cat = Tables.catalog(spark, TestSpark.sf)
    assert(cat.select("table_name").distinct().count() == Tables.names.length)
    val li = cat.where("table_name = 'lineitem'").collect()
    assert(li.length == 11)
    assert(li.forall(_.getAs[Long]("table_rows") == 6000L))
  }

  test("pipeline stage modes select the right table subsets") {
    val out = java.nio.file.Files.createTempDirectory("graft_modes").toString
    val stg = Pipeline.run(spark, TestSpark.sf, s"$out/a", mode = Pipeline.StagingOnly)
    assert(stg.map(_.table) == Seq("stg_lineitem_clean"))
    val core = Pipeline.run(spark, TestSpark.sf, s"$out/b", mode = Pipeline.SkipMarts)
    assert(core.map(_.table).contains("fact_sales") &&
      !core.map(_.table).exists(_.startsWith("mart_")))
  }

  test("concurrent build-if-missing probes degrade to one winner, never a torn path") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_claimrace").toString
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // both probes released together so their exists-checks race: both
    // build, exactly one claims the final name by no-overwrite rename,
    // the loser deletes its staging and reads the winner
    val start = new java.util.concurrent.CountDownLatch(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    def task = new java.util.concurrent.Callable[Seq[(Long, String)]] {
      def call(): Seq[(Long, String)] = {
        start.countDown()
        start.await(10, java.util.concurrent.TimeUnit.SECONDS)
        Sinks.ensure(spark, Sinks.artifactPath(spark, "probe_race", dir)) {
          Seq((42L, "payload")).toDF("k", "v")
        }.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      }
    }
    try {
      val (f1, f2) = (pool.submit(task), pool.submit(task))
      assert(f1.get() == Seq((42L, "payload")))
      assert(f2.get() == Seq((42L, "payload")))
    } finally pool.shutdown()
    // cleanliness: the family holds the one claimed artifact and no
    // orphaned probe staging dirs. Staging siblings are `_staging_<uuid>`
    // and carry no dirKey, so any `_`-prefixed child is a leak too.
    val fam = new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/probe_race")
    val fs = fam.getFileSystem(spark.sessionState.newHadoopConf())
    val dirKey = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val all = fs.listStatus(fam).map(_.getPath.getName).toSeq
    val children = all
      .filter(_.contains(dirKey)) // other runs' temp-dir artifacts share the family
    assert(children.size == 1 && !children.head.contains("_probe_"),
      s"family dir not clean after the race: $children")
    assert(!all.exists(_.startsWith("_")), s"staging left in the family dir: $all")
  }

  test("staging beside a shard=<k> target is hidden, holds no '=', and never breaks the parent's read") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_stage_eq").toString
    Sinks.publish(Seq((1L, "a")).toDF("doc_id", "v"), s"$idx/shard=1")
    // replace: a second publish swaps in the new copy (no nesting, no
    // set-aside copy left behind)
    Sinks.publish(Seq((1L, "b")).toDF("doc_id", "v"), s"$idx/shard=1")
    // the state a JVM kill leaves mid-publish: staged, never swapped
    val (staged, n) = Sinks.stage(Seq((3L, "c")).toDF("doc_id", "v"), s"$idx/shard=3")
    assert(n == 1)
    val name = new org.apache.hadoop.fs.Path(staged).getName
    assert(name.startsWith("_") && !name.contains("="), s"staging name $name")
    assert(new java.io.File(idx).list().sorted.toSeq == Seq(name, "shard=1"))
    // partition discovery over the parent skips the debris
    val back = spark.read.parquet(idx).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("v"), r.getAs[Int]("shard"))).toSeq
    assert(back == Seq((1L, "b", 1)))
    assert(Sinks.shardKeys(spark, idx) == Seq("1"))
    // an empty frame publishes (and counts back) zero rows
    val empty = Files.createTempDirectory("graft_stage_empty").toString
    assert(Sinks.publish(Seq.empty[(Long, String)].toDF("doc_id", "v"), s"$empty/t") == 0)
    assert(spark.read.parquet(s"$empty/t").count() == 0)
  }

  test("ensureFile claims once and ignores a dead writer's temp file") {
    val dir = Files.createTempDirectory("graft_claimfile").toString
    // a killed writer's torn temp sibling is not the artifact
    Files.writeString(java.nio.file.Path.of(s"$dir/_staging_dead0001"), "6 ")
    assert(Sinks.ensureFile(spark, s"$dir/meta")("9 2") == "9 2")
    // claimed: a later writer reads the winner's content, never its own
    assert(Sinks.ensureFile(spark, s"$dir/meta")(sys.error("rebuilt")) == "9 2")
    assert(new java.io.File(dir).list().filterNot(_.startsWith(".")).sorted.toSeq ==
      Seq("_staging_dead0001", "meta"), "the claim left its temp file behind")
  }

  test("a torn staged api_products feed beside a missing target is never read; " +
      "the next build returns every row") {
    // a private source dir: its own artifact key, so the shared feed of
    // the fixture is untouched
    val dir = Files.createTempDirectory("graft_feed").toString
    spark.read.parquet(s"${TestSpark.sf}/part.parquet").write.parquet(s"$dir/part.parquet")
    val path = Sinks.artifactPath(spark, "api_products", dir, "part.parquet")
    // what a kill mid-stage leaves: a torn hidden copy and no target
    val torn = java.nio.file.Path.of(Sinks.hiddenSibling(path).stripPrefix("file:"))
    Files.createDirectories(torn)
    Files.writeString(torn.resolve("part-00000.json"),
      "{\"product_id\":1,\"rating\":{\"rate\":1.1,\"count\":8}}\n{\"product_id\":2,\"rat")
    val feed = graft.operators.Cleaning.apiRatingsFeed(spark, dir)
      .select("product_id", "rating_rate", "rating_count").collect()
    val parts = spark.read.parquet(s"$dir/part.parquet").count()
    assert(feed.length == parts && feed.map(_.getLong(0)).distinct.length == parts)
    assert(feed.forall(r => !r.isNullAt(1) && !r.isNullAt(2)), "a rating read null")
    assert(Sinks.exists(spark, path) && Files.exists(torn),
      "the feed must be claimed beside the inert torn copy")
  }

  test("concurrent publishes report every failure, not just the first") {
    val started = new java.util.concurrent.CountDownLatch(2)
    def failing(msg: String): () => Unit = () => {
      started.countDown()
      started.await(10, java.util.concurrent.TimeUnit.SECONDS)
      throw new IllegalStateException(msg)
    }
    var ran = false
    val e = intercept[IllegalStateException] {
      Sinks.concurrently(failing("bands tier"), failing("sets tier"), () => ran = true)
    }
    val causes = (e +: e.getSuppressed.toSeq).map(_.getMessage).sorted
    assert(causes == Seq("bands tier", "sets tier"))
    assert(ran, "a failure must not cancel the other thunks")
  }

  test("Sinks is the only place in src/main that renames or keys an artifact") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val stream = Files.walk(root)
    val files = try stream.iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
      finally stream.close()
    def sites(needle: String): Seq[String] = files
      .filter(p => new String(Files.readAllBytes(p)).contains(needle))
      .map(p => root.relativize(p).toString).sorted
    val sinks = Seq("graft/sources/Sinks.scala")
    assert(sites(".rename(") == sinks, "rename outside Sinks")
    assert(sites("""replaceAll("[^A-Za-z0-9._-]"""") == sinks,
      "artifact key rule copied outside Sinks")

    // every DataFrame `.write` outside Sinks is a `noop` warm-up or one
    // of these named in-place writes, none of them a published artifact
    val inPlace = Map(
      "graft/operators/Facts.scala" -> 1, // a fact increment's partitioned staging, swapped in by Sinks.swap
      "graft/Verify.scala" -> 1, // the correctness dump scripts/check.py reads
      "graft/tools/ScaleGen.scala" -> 3, // the scaled input tables
      "graft/streaming/StreamQueries.scala" -> 4, // the scratch feeds a stream query replays
      "graft/Bench.scala" -> 2) // the bucketed bench tables
    val WriteSite = """\.write(?![A-Za-z0-9_(])[^\n]*""".r
    val writes = files.flatMap { p =>
      WriteSite.findAllIn(new String(Files.readAllBytes(p)))
        .filterNot(_.contains("\"noop\"")).map(_ => root.relativize(p).toString)
    }.filterNot(sinks.contains).groupBy(identity).view.mapValues(_.size).toMap
    assert(writes == inPlace, s"a .write outside Sinks that is not on the named list: $writes")
  }

  test("stage counts the rows its own write saw, exactly, and a parquet stage is one job") {
    val dir = Files.createTempDirectory("graft_stagecount").toString
    val li = spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
    // empty, shuffled into 7 partitions, an AQE aggregate, and JSON
    for ((df, format) <- Seq(li.where(lit(false)) -> "parquet",
        li.repartition(7, col("l_orderkey")) -> "parquet",
        li.groupBy(col("l_orderkey")).agg(count(lit(1)).as("n")) -> "parquet",
        li.groupBy(col("l_orderkey")).agg(count(lit(1)).as("n")) -> "json")) {
      val (staged, n) = Sinks.stage(df, s"$dir/t", format)
      assert(n == df.count() && spark.read.format(format).load(staged).count() == n)
    }
    val ((_, n), jobs) = TestSpark.jobsOf(Sinks.stage(li, s"$dir/jobs"))
    assert(n == 6000L)
    assert(jobs == 1, s"a parquet stage ran $jobs jobs")
  }

  test("sourceKey fingerprint changes when the source file is regenerated") {
    val f = java.nio.file.Files.createTempFile("graft_srckey", ".parquet")
    java.nio.file.Files.writeString(f, "first generation")
    val k1 = graft.sources.Tables.sourceKey(spark, f.toString)
    java.nio.file.Files.writeString(f, "second generation, different size")
    val k2 = graft.sources.Tables.sourceKey(spark, f.toString)
    assert(k1 != k2, "regenerated source must produce a new artifact key")
    // stable when nothing changed
    assert(k2 == graft.sources.Tables.sourceKey(spark, f.toString))
  }

  /** Fake endpoint: fails `failures` times, then serves — the DAG's
    * retries=2 envelope (Fetch reuses Pipeline.withRetries) must absorb
    * exactly two failures and surface a third.
    */
  private class FlakyFetcher(payload: String, failures: Int) extends Fetch.Fetcher {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    def fetch(url: String): String = {
      if (calls.incrementAndGet() <= failures)
        throw new RuntimeException(s"503 from $url")
      payload
    }
  }

  test("fetch seam: retries absorb two failures, then the payload parses") {
    val f = new FlakyFetcher("""{"category_id": 1, "category": "widgets"}
      |{"category_id": 2, "category": "gears"}""".stripMargin, failures = 2)
    val schema = StructType.fromDDL("category_id BIGINT, category STRING")
    val df = Fetch.readJsonPayload(spark, f, "http://fake/categories", schema, "api_rest")
    assert(f.calls.get() == 3, "two failed attempts + one success")
    assert(df.count() == 2)
    assert(df.columns.toSet ==
      Set("category_id", "category", "_source", "_extracted_at"))
  }

  test("fetch seam: a third failure escapes as FetchFailedException") {
    val f = new FlakyFetcher("never served", failures = 3)
    val e = intercept[Fetch.FetchFailedException] {
      Fetch.fetchWithRetries(f, "http://fake/down", retries = 2)
    }
    assert(f.calls.get() == 3, "the retry budget is exactly retries+1 attempts")
    assert(e.getMessage.contains("after 3 attempts"))
  }

  test("fetch seam: a hung endpoint is cut at the per-attempt timeout") {
    val hung = new Fetch.Fetcher {
      def fetch(url: String): String = { Thread.sleep(60000); "too late" }
    }
    val t0 = System.nanoTime()
    intercept[Fetch.FetchFailedException] {
      Fetch.fetchWithRetries(hung, "http://fake/hang", retries = 1, timeoutMs = 300)
    }
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(elapsedMs < 10000, s"2 attempts x 300 ms must not take $elapsedMs ms")
  }

  test("fetch seam: top-level JSON array parses as one row per element") {
    val arr = new Fetch.Fetcher {
      def fetch(url: String): String =
        "[\n  {\"category_id\": 1, \"category\": \"a\"},\n  {\"category_id\": 2, \"category\": \"b\"}\n]\n"
    }
    val schema = StructType.fromDDL("category_id BIGINT, category STRING")
    val rows = Fetch.readJsonPayload(spark, arr, "http://fake/list", schema, "api_rest")
      .select("category_id", "category").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("q34/q37 extract through an injected fetcher (the live-API drop-in)") {
    // a recording pass-through proves the operators consume the seam:
    // same results as the default path, and the fetcher was actually hit
    val inner = new Fetch.FileFetcher(spark.sessionState.newHadoopConf())
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val recording = new Fetch.Fetcher {
      def fetch(url: String): String = { calls.incrementAndGet(); inner.fetch(url) }
    }
    val viaSeam = graft.operators.Cleaning
      .apiCategoryListVia(spark, TestSpark.sf, recording)
      .select("category", "category_id", "n_products").collect().toSet
    val default = graft.operators.Cleaning.apiCategoryList(spark, TestSpark.sf)
      .select("category", "category_id", "n_products").collect().toSet
    assert(calls.get() == 1 && viaSeam == default)

    val feed = graft.operators.Cleaning
      .apiRatingsFeed(spark, TestSpark.sf, recording)
    assert(feed.count() > 0 && calls.get() == 2)
    assert(feed.columns.toSet == Set("product_id", "rating_rate", "rating_count"))
  }
}
