package graft.sources

import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Injectable HTTP-extraction seam — the live-API stage of the
  * reference (extract.py:62-101 products endpoint, :103-127 category
  * list: `requests.get(url, timeout=30)` + `raise_for_status()`,
  * failures surfacing as `RequestException`). The sandbox has no
  * network, so the DEFAULT implementation is file-backed, but the
  * seam is the [[graft.operators.Multimodal.MediaCodec]] factory
  * pattern: a production deployment swaps in an HTTP client without
  * touching any operator — q34/q36/q37 already consume the feed
  * through [[Tables.readJsonPayload]], which only sees the trait.
  *
  * Scale contract: a fetch materializes ONE payload on the driver —
  * correct for REST responses, which are driver-bounded by nature
  * (the reference holds the same payload in a pandas frame). Lake-
  * sized inputs never route through here; they use the distributed
  * parquet/CSV/JSON readers in [[Tables]].
  */
object Fetch {

  /** The seam: GET `url`, return the response body as UTF-8 text.
    * Implementations throw on any failure (non-2xx, unreachable,
    * malformed) — retry policy belongs to [[fetchWithRetries]], not to
    * implementations, so fakes stay trivial.
    */
  trait Fetcher extends Serializable {
    def fetch(url: String): String
  }

  /** Terminal fetch failure after the retry budget — the analog of the
    * reference letting `RequestException` escape to the DAG, whose
    * task-level `retries=2` has already been spent
    * ([[graft.Pipeline.withRetries]] carries that contract here).
    */
  final class FetchFailedException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

  /** File-backed default: resolves the "url" as a Hadoop path — a
    * single file, or a directory of part files concatenated in name
    * order (exactly the layout a snapshotted API response lands in).
    * This is what stands in for the live endpoint in the sandbox.
    */
  final class FileFetcher(@transient private val conf: Configuration)
      extends Fetcher {
    // Fetcher is Serializable (an injected HTTP client may ride a
    // closure); Configuration is not, so it is @transient and
    // re-created after deserialization — a deserialized instance must
    // not NPE on getFileSystem.
    private def conf0: Configuration =
      Option(conf).getOrElse(new Configuration())
    def fetch(url: String): String = {
      val p = new Path(url)
      val fs = p.getFileSystem(conf0)
      val files =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).toSeq
            .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
              && !s.getPath.getName.startsWith("."))
            .sortBy(_.getPath.getName)
            .map(_.getPath)
        else Seq(p)
      val sb = new StringBuilder
      files.foreach { f =>
        val in = fs.open(f)
        try {
          val bytes = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](64 * 1024)
          var n = in.read(buf)
          while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
          sb.append(new String(bytes.toByteArray, StandardCharsets.UTF_8))
          if (sb.nonEmpty && sb.last != '\n') sb.append('\n')
        } finally in.close()
      }
      sb.result()
    }
  }

  /** The reference's request discipline around ANY fetcher: a hard
    * per-attempt timeout (`requests.get(..., timeout=30)`) and the DAG
    * task's bounded re-attempts (`retries=2` default_args), reusing
    * [[graft.Pipeline.withRetries]] so extraction and pipeline stages
    * share ONE retry semantics. The attempt runs on a daemon thread so
    * a hung endpoint cannot wedge the driver past its budget.
    */
  def fetchWithRetries(fetcher: Fetcher, url: String,
                       retries: Int = 2, timeoutMs: Long = 30000): String =
    try {
      graft.Pipeline.withRetries(retries, s"fetch $url") {
        val exec = Executors.newSingleThreadExecutor { r =>
          val t = new Thread(r, "graft-fetch"); t.setDaemon(true); t
        }
        try {
          val fut = exec.submit(new java.util.concurrent.Callable[String] {
            def call(): String = fetcher.fetch(url)
          })
          try fut.get(timeoutMs, TimeUnit.MILLISECONDS)
          catch {
            case _: TimeoutException =>
              fut.cancel(true)
              throw new TimeoutException(s"fetch $url exceeded ${timeoutMs} ms")
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        } finally exec.shutdownNow()
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        throw new FetchFailedException(
          s"fetch $url failed after ${retries + 1} attempts", e)
    }

  /** Fetched-payload JSON reader: fetch one bounded REST payload
    * through the seam and parse it with the SAME explicit-schema
    * discipline as [[Tables.readJson]]. Handles both reference REST
    * shapes — JSON-lines records (one object per line) and a
    * top-level JSON array (Spark's JSON reader expands a top-level
    * array into one row per element, matching `response.json()`
    * returning a list). The payload rides to executors as a tiny
    * single-row dataset; everything downstream is a normal plan.
    */
  def readJsonPayload(spark: SparkSession, fetcher: Fetcher, url: String,
                      schema: StructType, sourceTag: String,
                      retries: Int = 2, timeoutMs: Long = 30000): DataFrame = {
    val body = fetchWithRetries(fetcher, url, retries, timeoutMs)
    import spark.implicits._
    // a top-level array is ONE document (line breaks are interior);
    // anything else is JSON-lines, one record per line
    val docs =
      if (body.dropWhile(_.isWhitespace).headOption.contains('[')) Seq(body)
      else body.split('\n').toSeq.filter(_.trim.nonEmpty)
    Tables.tagSource(spark.read.schema(schema).json(docs.toDS()), sourceTag)
  }
}
