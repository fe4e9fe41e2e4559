package graft.sources

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Warehouse write surface — the reference's load layer
  * (/root/reference/etl/load.py): the one publish protocol every
  * published artifact goes through.
  *
  * PUBLISH CONTRACT. This object is the only code in src/main that
  * stages, renames or keys a published artifact. Two primitives:
  *
  *  - REPLACE, [[publish]] = [[stage]] then [[swap]] (load.py:273-274:
  *    load the batch to staging, then swap it in). `stage` writes the
  *    frame to a hidden sibling of the target in one job and takes the
  *    row count from that write, through an unnamed `Observation`: the
  *    staged copy is never read back. `swap` renames the current target
  *    aside, renames the staged copy in, then deletes the old copy. The
  *    data is written exactly once and read by no one until a reader
  *    (such as `Pipeline.validateLoad`) opens the target. Replace
  *    is SINGLE-WRITER per target: two racing publishers of one path
  *    can interleave their renames (builders are deterministic, so
  *    either content is right, but a reader between a swap's two
  *    renames finds the path missing).
  *  - CLAIM-ONCE, [[ensure]] ([[ensureBuilt]] for a non-parquet
  *    artifact, [[ensureFile]] for one small file):
  *    build-if-missing. Each prober stages its own copy and claims the
  *    final name with a no-overwrite rename; exactly one wins, the
  *    loser drops its copy and reads the winner's. A claimed path is
  *    never deleted or rewritten, so no reader ever finds it missing;
  *    a "change" is a new name (the key below), not a rewrite.
  *
  * Rules that hold for both:
  *  - Staged and set-aside copies are `_staging_<uuid8>` and
  *    `_old_<uuid8>` siblings of the target. The `_` prefix hides them
  *    from Spark's file index, from `Pipeline.registerWarehouse` and
  *    from the shard listings. They never contain `=`: Spark's file
  *    index skips a `_` name only when it has no `=` (it keeps `_a=b`
  *    as a partition directory), so a `_staging_shard=2_ab` beside
  *    `shard=1` would fail every read of the parent with
  *    CONFLICTING_PARTITION_COLUMN_NAMES.
  *  - Every rename is `FileContext.rename(…, Rename.NONE)`, which fails
  *    when the destination exists. Hadoop's `FileSystem.rename` onto an
  *    existing directory nests the source inside it instead.
  *  - A publisher killed mid-protocol leaves a complete or torn hidden
  *    sibling behind. That debris is inert — no listing reads it — and
  *    is not swept: the next publish of the target stages under a fresh
  *    name. A kill between swap's two renames leaves the target missing
  *    (its old copy sits aside) until the next publish of it.
  *  - Artifact keys are [[artifactKey]]'s `src<dirKey>_<sourceKey>`.
  */
object Sinks {

  /** The one artifact key rule: `src<dirKey>_<sourceKey(dir/keyFile)>` —
    * dirKey is the shell-safe source dir path, sourceKey the (length,
    * mtime) fingerprint of the keying file, so a corpus change is a new
    * key and a same-corpus rebuild (every builder is deterministic) is
    * byte-identical: staleness is impossible. The "src" prefix matters:
    * a sanitized absolute path starts with "_", which would hide the
    * artifact from Spark's file listing.
    */
  def artifactKey(spark: SparkSession, dir: String,
                  keyFile: String = "documents.parquet"): String =
    s"src${dir.replaceAll("[^A-Za-z0-9._-]", "_")}_" +
      Tables.sourceKey(spark, s"$dir/$keyFile")

  /** `<warehouse>/<family>/<tag><artifactKey>`; `tag` carries a family's
    * format version or split spec (`v1`, `v3`, `holdout5`).
    */
  def artifactPath(spark: SparkSession, family: String, dir: String,
                   keyFile: String = "documents.parquet",
                   tag: String = ""): String =
    s"${spark.conf.get("spark.sql.warehouse.dir")}/$family/$tag" +
      artifactKey(spark, dir, keyFile)

  /** True iff every one of `paths` exists. */
  def exists(spark: SparkSession, paths: String*): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    paths.forall { path =>
      val p = new Path(path)
      p.getFileSystem(conf).exists(p)
    }
  }

  /** Keys of the published `shard=<key>` partitions under `dir`, sorted
    * (none when `dir` is missing). A key is alphanumeric, so no hidden
    * sibling — nor the `shard=<k>_staging_<uuid>` debris that publishes
    * staging beside the target once left — ever lists as a shard.
    */
  def shardKeys(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val ShardName = "shard=([A-Za-z0-9]+)".r
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case ShardName(k) => k }.sorted
  }

  /** A fresh hidden sibling of `path` (see the contract: `_`, no `=`). */
  private[graft] def hiddenSibling(path: String, kind: String = "staging"): String =
    new Path(new Path(path).getParent,
      s"_${kind}_${java.util.UUID.randomUUID().toString.take(8)}").toString

  /** Write `df` as `format` (parquet unless told otherwise) to a hidden
    * sibling of `path`. Returns the staged dir and the row count the
    * write itself observed; a failed write drops its copy.
    */
  def stage(df: DataFrame, path: String, format: String = "parquet"): (String, Long) = {
    val spark = df.sparkSession
    val staged = hiddenSibling(path)
    dropOnFailure(spark, staged) {
      // unnamed: concurrent stages must never share an observation name
      val written = Observation()
      df.observe(written, count(lit(1)).as("rows"))
        .write.mode(SaveMode.Overwrite).format(format).save(staged)
      (staged, written.get("rows").asInstanceOf[Long])
    }
  }

  /** Move `staged` to `path`, replacing what is there: old copy aside,
    * staged copy in, old copy deleted.
    */
  def swap(spark: SparkSession, staged: String, path: String): Unit = {
    val (fc, target) = context(spark, path)
    val old = new Path(hiddenSibling(target.toString, "old"))
    val had = fc.util().exists(target)
    if (had) fc.rename(target, old, Options.Rename.NONE)
    fc.rename(new Path(staged), target, Options.Rename.NONE)
    if (had) fc.delete(old, true)
  }

  /** Replace `path` with `df` ([[stage]] then [[swap]]). Returns the
    * published row count like load.py's load_table.
    */
  def publish(df: DataFrame, path: String): Long = {
    val (staged, n) = stage(df, path)
    dropOnFailure(df.sparkSession, staged)(swap(df.sparkSession, staged, path))
    n
  }

  /** [[publish]] under its former name (perfbench's driver calls it). */
  def stagePublish(df: DataFrame, path: String): Long = publish(df, path)

  /** Claim-once artifact at `path`: build, [[stage]] as `format` and
    * claim it iff missing. Two concurrent probes of a missing artifact
    * both pay the build; one claims the name.
    */
  def ensureBuilt(spark: SparkSession, path: String, format: String = "parquet")(
      build: => DataFrame): Unit =
    if (!exists(spark, path)) claim(spark, stage(build, path, format)._1, path)

  /** Claim-once parquet artifact at `path` ([[ensureBuilt]]), read back. */
  def ensure(spark: SparkSession, path: String)(build: => DataFrame): DataFrame = {
    ensureBuilt(spark, path)(build)
    spark.read.parquet(path)
  }

  /** Claim-once single file: write `content` to a hidden temp sibling
    * and claim `path` with it iff `path` is missing, then return the
    * claimed file's content (the winner's, if another writer claimed
    * first). A kill mid-write leaves only the temp file, never a torn
    * `path`.
    */
  def ensureFile(spark: SparkSession, path: String)(content: => String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) {
      val bytes = content.getBytes("UTF-8")
      val tmp = hiddenSibling(path)
      dropOnFailure(spark, tmp) {
        val out = fs.create(new Path(tmp), false)
        try out.write(bytes) finally out.close()
      }
      claim(spark, tmp, path)
    }
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Run `thunks` on one thread each and wait for ALL of them; the first
    * failure is rethrown with every other failure attached through
    * `addSuppressed`, so a double failure reports both causes.
    */
  private[graft] def concurrently(thunks: (() => Any)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      val futures = thunks.map(t => pool.submit(
        new java.util.concurrent.Callable[Any] { def call(): Any = t() }))
      val failures = futures.flatMap { f =>
        try { f.get(); None }
        catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }

  /** No-overwrite rename of `staged` to `path`. A failed rename with
    * `path` now present lost the claim: drop `staged`, the winner stays.
    */
  private def claim(spark: SparkSession, staged: String, path: String): Unit =
    dropOnFailure(spark, staged) {
      val (fc, target) = context(spark, path)
      try fc.rename(new Path(staged), target, Options.Rename.NONE)
      catch {
        case _: java.io.IOException if fc.util().exists(target) =>
          fc.delete(new Path(staged), true): Unit
      }
    }

  private def context(spark: SparkSession, path: String): (FileContext, Path) = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val q = p.getFileSystem(conf).makeQualified(p)
    (FileContext.getFileContext(q.toUri, conf), q)
  }

  /** Run `body`; if it throws, delete `staged` (attaching a failed delete
    * to the original error) and rethrow.
    */
  private def dropOnFailure[A](spark: SparkSession, staged: String)(body: => A): A =
    try body
    catch {
      case e: Throwable =>
        try {
          val p = new Path(staged)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        } catch { case w: Throwable => e.addSuppressed(w) }
        throw e
    }
}
