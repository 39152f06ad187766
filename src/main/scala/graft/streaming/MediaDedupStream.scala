package graft.streaming

import graft.operators.{MediaDedupIndex, ProbeFold}
import graft.state.StateStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Self-maintaining streaming MEDIA dedup — [[DedupStream]]'s
  * exactly-once micro-batch pattern over the fingerprint ledger
  * ([[MediaDedupIndex]]): media items arrive as (doc_id, payload)
  * micro-batches, each batch decodes ONLY its own payloads, flags
  * against the persisted ledger AND within itself, and folds the
  * surviving fingerprints back in — so a near-dup arriving in a later
  * micro-batch collides with the item an earlier one admitted.
  *
  * The decode is an RDD map (pixels/samples cannot be hashed by
  * per-row SQL expressions the way text bands are), so the flow runs
  * under `foreachBatch` — the documented Structured Streaming seam for
  * batch-only transforms — rather than as a stream-static join.
  *
  * The probe and the fold are [[ProbeFold]]'s, the same step as
  * [[DedupStream.processBatch]]'s without the hot-key cap (it would
  * break the pigeonhole's completeness): the block probe keeps every key,
  * and only identical fingerprints in a batch (a run of blank frames)
  * collapse to their min id. EXACTLY-ONCE under
  * foreachBatch's at-least-once replay by its [[ProbeFold.BatchStamp]]
  * guard: ledger rows folded by batch N carry `added_batch = N`; both
  * the probe and the re-fold ignore rows with `added_batch >= batchId`,
  * so a replayed batch probes the identical pre-fold ledger (same
  * flags) and regenerates the identical fold (no double-add). The
  * ledger is a [[StateStore.loadLog log]]: each batch appends only its
  * survivors under its batch id, and a batch id below the newest fold
  * (a fresh checkpoint against an accumulated ledger) fails loud.
  */
object MediaDedupStream {

  val ledgerSchema: StructType = StructType(
    MediaDedupIndex.indexSchema.fields :+ StructField(StateStore.Stamp, LongType))

  def ledgerPath(dir: String): String = s"$dir/media_stream_index"

  def loadLedger(spark: SparkSession, dir: String): DataFrame =
    StateStore.loadLog(spark, ledgerPath(dir), ledgerSchema).rows

  /** One micro-batch: flag arriving media against the pre-batch ledger
    * and within the batch (lowest-id attribution — deterministic under
    * replay, no arrival-order dependence), fold survivors; the steps
    * are [[ProbeFold]]'s, the keys and the exact Hamming verify
    * [[MediaDedupIndex]]'s, inline on the carried hashes. Returns the
    * flag rows (doc_id, modality, dup_of, hamming); a pair may repeat
    * once per colliding block, consumers dedup as their sink requires
    * (the [[DedupStream]] convention). */
  def processBatch(spark: SparkSession, batchMedia: DataFrame, dir: String, batchId: Long): DataFrame =
    ProbeFold(StateStore.loadLog(spark, ledgerPath(dir), ledgerSchema),
      MediaDedupIndex.fingerprints(spark, batchMedia).localCheckpoint(), MediaDedupIndex.keysOf,
      ProbeFold.BatchStamp(batchId), capHotKeys = false, Seq("doc_id"))(MediaDedupIndex.verify)

  /** Streaming wiring: foreachBatch drives [[processBatch]] per
    * micro-batch and appends the flags to an in-memory/parquet sink
    * via the supplied callback. */
  def startWithLedgerMaintenance(stream: DataFrame, dir: String,
      checkpoint: String)(onFlags: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onFlags(processBatch(batch.sparkSession, batch, dir, batchId), batchId)
      }
      .start()
}
