package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming ingest surface of the dedup family — the front door of an
  * LLM training-data pipeline: documents arrive continuously (crawl
  * batches, API feeds), and exact duplicates should be dropped BEFORE
  * they reach storage so every downstream pass (near-dup, quality,
  * tokenize) pays for a document once.
  *
  * Streaming twin of Dedup.exactDedup's keep-first semantics (first
  * ARRIVAL wins — in a stream "first" is arrival order, the analog of
  * the batch min(doc_id) convention; DocStreamSpec asserts the two
  * agree when arrival order follows doc_id).
  */
object DocStream {

  case class Doc(doc_id: Long, source: String, lang: String, text: String,
                 ingest_ts: java.sql.Timestamp)

  /** Exact-dedup a document stream on the content fingerprint with
    * BOUNDED state: `dropDuplicatesWithinWatermark` keeps one row per
    * fingerprint and lets the state store expire fingerprints older
    * than the watermark horizon. That bound is the production trade:
    * crawl duplicates overwhelmingly arrive close together (re-fetches,
    * mirror bursts), so a horizon of hours removes nearly all of them
    * with state proportional to the horizon's arrival volume — a
    * full-history exact guarantee would grow state with corpus size
    * and belongs to the batch pass (d01), which this stage feeds.
    *
    * On a static frame the operator degrades to plain per-fingerprint
    * dedup (`dropDuplicatesWithinWatermark` is streaming-only by
    * definition — there is no watermark to bound) — one survivor per
    * distinct content either way.
    */
  def dedupIngest(docs: DataFrame, horizon: String = "1 hour"): DataFrame = {
    val fp = docs.withColumn("fingerprint", md5(col("text")))
    if (docs.isStreaming)
      fp.withWatermark("ingest_ts", horizon)
        .dropDuplicatesWithinWatermark("fingerprint")
    else fp.dropDuplicates("fingerprint")
  }

  /** Quality-gated dedup ingest: the cheap narrow screens (length and
    * alphabetic-ratio floors — the t02 quality-score building blocks —
    * plus the t06 duplicate-word-fraction repetition rule, which is a
    * pure per-row expression because each document is one row) run
    * BEFORE the stateful dedup, so junk never occupies dedup state.
    * Filter-then-dedup order matters in a stream: state is the scarce
    * resource, and a narrow codegen'd filter is free. The thresholds
    * (20 chars, alphabetic ratio 0.5, duplicate-word fraction 0.85) are
    * the batch operators' values, so the stream front door enforces the
    * same policy the batch passes report on.
    */
  def gatedIngest(docs: DataFrame, horizon: String = "1 hour"): DataFrame = {
    val alpha = length(regexp_replace(col("text"), lit("[^\\p{L}]"), lit("")))
    // tokenize EXACTLY as batch t06 does (regexp \S+, not split on \s+,
    // which emits an empty token under leading whitespace and skews the
    // fraction) — the stream gate and the batch report must agree on
    // every document, which DocStreamSpec's randomized differential pins
    val w = regexp_extract_all(col("text"), lit("\\S+"), lit(0))
    val dupWordFrac =
      lit(1.0) - size(array_distinct(w)).cast("double") / size(w)
    dedupIngest(
      docs.filter(length(col("text")) >= 20 &&
        alpha.cast("double") / length(col("text")) >= 0.5 &&
        dupWordFrac <= 0.85),
      horizon)
  }
}
