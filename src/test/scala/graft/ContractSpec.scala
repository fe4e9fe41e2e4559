package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — local, small, UTC. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  val sf: String = "/root/testdata/sf0.001"

  /** `body`'s result and the jobs it submits, counted by a listener on a
    * job group of its own; a marker job in a second group drains the
    * listener, since the listener bus delivers events in order.
    */
  def jobsOf[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft_jobs_${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(): Unit
          case Some(g) if g == s"$group.end" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = body
      sc.setJobGroup(s"$group.end", "listener drain")
      sc.parallelize(Seq(1), 1).count()
      require(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus did not drain")
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** `body`'s result and every stage that completed while it ran, on
    * any thread (a streaming query's batches run on their own); a
    * marker job drains the listener, as in [[jobsOf]].
    */
  def stagesOf[A](body: => A): (A, Seq[org.apache.spark.scheduler.StageInfo]) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val marker = s"graft_stages_${System.nanoTime()}"
    val done = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          drained.countDown()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        done.add(e.stageInfo): Unit
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      require(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus did not drain")
      (out, done.toArray(Array.empty[StageInfo]).toSeq)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}

/** Driver-contract invariants: every query runs, returns rows, and every
  * oracle entry points at a declared query.
  */
class ContractSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("all queries execute and are non-empty at sf0.001") {
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, TestSpark.sf).count()
      if (n == 0) Some(name) else None
    }
    assert(empty.isEmpty, s"empty results: $empty")
  }

  test("query column names are distinct (driver sorts by name)") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val cols = fn(spark, TestSpark.sf).columns
      assert(cols.distinct.length == cols.length, s"$name has duplicate columns")
    }
  }

  test("SURVEY §2 inventory and the query surface stay in sync") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")))
    val classicIds = "\\[x\\] ([qdtes]\\d\\d_\\w+|r_sql_parity)".r
      .findAllMatchIn(survey).map(_.group(1)).toSet
    val componentIds = "\\[x\\] ((?:stream|multimodal)\\w*)".r
      .findAllMatchIn(survey).map(_.group(1)).toSet
    val codeIds = SparkEntry.queries.keySet
    val codeClassic = codeIds.filterNot(id =>
      id.startsWith("stream") || id.startsWith("multimodal"))
    assert(classicIds == codeClassic,
      s"survey-only: ${classicIds -- codeClassic}; code-only: ${codeClassic -- classicIds}")
    // the streaming/multimodal component rows: every driver-checked
    // wrapper must be a §2 row (the reverse direction — every §2
    // component row carrying a CORRECTNESS entry — is the round-13
    // conversion this registry implements)
    val codeComponents = codeIds -- codeClassic
    assert(codeComponents.subsetOf(componentIds),
      s"component queries missing from SURVEY §2: ${codeComponents -- componentIds}")
  }
}
