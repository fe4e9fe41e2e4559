package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** Streaming twin of the sketch family: HLL distinct-count registers
  * (s01/s05) maintained continuously over a document stream. The
  * count-min grid (s02) needs no twin: `Sketches.cmsCells` runs on a
  * stream as is.
  *
  * The interesting property is the STATE BOUND: a streaming
  * aggregation's state normally grows with the key domain (why
  * watermarks exist), but the sketch's key space is (source, bucket)
  * with bucket < 256 — the state is constant-size BY CONSTRUCTION, so
  * the query needs no watermark, never expires anything, and is exact
  * over the entire stream history (exact w.r.t. the sketch's own
  * semantics: the registers equal a batch build over everything that
  * ever arrived — SketchStreamSpec pins that equality across
  * micro-batches). This is the live corpus-cardinality dashboard feed:
  * each trigger updates ≤ sources×256 rows, and the served estimate is
  * the s01 literal-table chain over those registers.
  *
  * Mergeability (s05's oracle-checked result) is what makes the
  * topology composable: per-stream registers from independent ingest
  * jobs combine by bucket-wise max downstream without replaying any
  * stream.
  */
object SketchStream {

  /** Continuous HLL registers per (source, bucket) — legal on batch and
    * streaming frames alike; on a stream run it in Update/Complete
    * mode (an unwatermarked stateful agg is fine here precisely
    * because the state cannot grow).
    */
  def hllRegisters(docs: DataFrame): DataFrame =
    Sketches.hllRankStream(Sketches.tokenHashes(docs), "source")
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("rank")).as("reg"))
}
