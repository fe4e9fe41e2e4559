package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Continuous twin of `Pipeline.dailyRun`'s dedup side — the curation
  * scheduler as a STREAM: documents arrive continuously, each
  * micro-batch is treated as one arriving shard, probed against the
  * same growing standing index the batch scheduler maintains, and
  * published as batch-keyed index and removal tiers (the index tier
  * holds one (doc_id, bands, sh_set, n) row per doc).
  * DocStream is the exact-dedup front door (bounded-state, in-flight);
  * this is the near-dup back door — the stage that needs the standing
  * index and therefore runs per-batch against published artifacts
  * rather than in the state store (LSH candidate state is
  * corpus-sized; watermark state cannot hold it, published artifacts
  * can — the same reasoning that makes d19 probe artifacts instead of
  * recomputing the corpus).
  *
  * Exactly-once: the sink is `foreachBatch` + the stage-swap publish
  * under partitions keyed by `b<batchId>`, so a REPLAYED batch (the
  * restart-recovery case foreachBatch documents as at-least-once)
  * overwrites only its own two partitions and probes only the OTHER
  * published shards — the ingestShardCore retry contract. The removal
  * union over all published reports therefore stays exactly the
  * full-rebuild removal set however the stream is chopped into batches
  * or replayed (keep-min pairs are discovered at the LATER shard of
  * each pair; CurationStreamSpec pins stream == batch-rebuild on a
  * multi-batch feed with a forced replay).
  *
  * Scale: per-batch cost is the d19 probe — batch fingerprinting +
  * band-bucket equi-join against the published index + array-vs-array
  * verification on the candidate slice. The index grows by one
  * shard-sized partition per batch; compaction of many small shard
  * partitions into one (a rebuild at a quiet hour) is an operational
  * concern, not a correctness one — the probe reads however many
  * partitions exist.
  */
object CurationStream {

  /** One micro-batch = one shard ingest tick against `indexDir`. */
  def ingestBatch(batch: DataFrame, indexDir: String, batchId: Long): Unit = {
    // an empty replayed batch publishes nothing and probes nothing
    if (!batch.isEmpty)
      Dedup.ingestShardCore(batch, indexDir, s"b$batchId")
  }

  /** Start the continuous ingest: every micro-batch of `docs` (schema:
    * at least `doc_id`, `text`) rides one ingestShardCore tick. The
    * checkpoint dir gives batch ids their replay stability — the same
    * data re-delivered after a crash carries the same batchId, which
    * is what makes the batch-keyed overwrite idempotent.
    */
  def ingest(docs: DataFrame, indexDir: String,
             checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, indexDir, batchId)
      }
      .start()

  /** The standing removal table after any number of ticks — the same
    * rollup the batch scheduler publishes (keep-min over every
    * published per-shard report).
    */
  def standingRemovals(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String): DataFrame =
    Dedup.standingRemovals(spark, indexDir)

  // ─── the vector side (q51's operating mode, continuously) ───────────
  /** One micro-batch of embeddings = one vector ingest tick: the first
    * non-empty batch bootstraps the codebook by training on itself,
    * every later batch assigns to the frozen codebook in one broadcast
    * E-step, publishing its batch-keyed assignment partition. Replay
    * overwrites only its own partition with identical (deterministic)
    * content — the same exactly-once story as the dedup side.
    */
  def ingestVectorBatch(batch: DataFrame, indexDir: String,
                        batchId: Long): Unit = {
    // an empty batch must not bootstrap an empty codebook (every later
    // assignment would join against nothing) — skip it entirely
    if (!batch.isEmpty)
      graft.operators.Similarity.vecIngestCore(batch, indexDir, s"b$batchId")
  }

  /** Continuous vector ingest over a stream with columns
    * (`vec_id`, `emb`).
    */
  def ingestVectors(vecs: DataFrame, indexDir: String,
                    checkpointDir: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestVectorBatch(batch, indexDir, batchId)
      }
      .start()
}
