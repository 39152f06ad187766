package graft.streaming

import graft.operators.MediaDedupIndex
import graft.state.StateStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  * EXACTLY-ONCE under foreachBatch's at-least-once replay, by
  * [[DedupStream.processBatch]]'s stamp guard: ledger rows folded by
  * batch N carry `added_batch = N`; both the probe and the re-fold
  * ignore rows with `added_batch >= batchId`, so a replayed batch
  * probes the identical pre-fold ledger (same flags) and regenerates
  * the identical fold (no double-add). The ledger is a
  * [[StateStore.loadLog log]]: each batch appends only its survivors
  * under its batch id, and a batch id below the newest fold (a fresh
  * checkpoint against an accumulated ledger) fails loud.
  */
object MediaDedupStream {

  val ledgerSchema: StructType = StructType(
    MediaDedupIndex.indexSchema.fields :+ StructField(StateStore.Stamp, LongType))

  def ledgerPath(dir: String): String = s"$dir/media_stream_index"

  def loadLedger(spark: SparkSession, dir: String): DataFrame =
    StateStore.loadLog(spark, ledgerPath(dir), ledgerSchema).rows

  /** One micro-batch: flag arriving media against the pre-batch ledger
    * and within the batch (lowest-id attribution — deterministic under
    * replay, no arrival-order dependence), fold survivors. Returns the
    * flag rows (doc_id, modality, dup_of, hamming); a pair may repeat
    * once per colliding block on the within-batch side, consumers
    * dedup as their sink requires (the [[DedupStream]] convention). */
  def processBatch(spark: SparkSession, batchMedia: DataFrame, dir: String,
      batchId: Long, maxHamming: Int = 3): DataFrame = {
    // NOT pinned (r22, matching DedupStream.processBatch): the ledger
    // is already a parquet store, and its reader (the probe join)
    // column-prunes to (doc_id, modality, h0..h3). A per-batch
    // localCheckpoint would materialize the WHOLE ledger into block
    // storage every micro-batch.
    val ledger = StateStore.loadLog(spark, ledgerPath(dir), ledgerSchema)
    val prior = ledger.rows.filter(col("added_batch") < batchId) // replay guard
    val bf = MediaDedupIndex.fingerprints(spark, batchMedia).localCheckpoint()

    def sides(df: DataFrame, idAs: String, pre: String) =
      df.select(col("modality"), col("doc_id").as(idAs),
        col("h0").as(s"${pre}0"), col("h1").as(s"${pre}1"),
        col("h2").as(s"${pre}2"), col("h3").as(s"${pre}3"),
        posexplode(array(col("h0"), col("h1"), col("h2"), col("h3"))).as(Seq("k", "bv")))

    val hamming = expr(
      "CAST(bit_count(a0 ^ b0) + bit_count(a1 ^ b1) + bit_count(a2 ^ b2) + bit_count(a3 ^ b3) AS INT)")
    // vs the admitted corpus: any colliding block, exact verify inline
    val vsCorpus = sides(bf, "doc_id", "a")
      .join(sides(prior.select("doc_id", "modality", "h0", "h1", "h2", "h3"),
        "dup_of", "b"), Seq("modality", "k", "bv"))
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select("doc_id", "modality", "dup_of", "hamming")
    // within the batch: attribute to the lowest colliding id, which
    // survives (mirrors DedupStream.processBatch)
    val within = sides(bf, "doc_id", "a")
      .join(sides(bf, "dup_of", "b"), Seq("modality", "k", "bv"))
      .filter(col("dup_of") < col("doc_id"))
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select("doc_id", "modality", "dup_of", "hamming")
    val flags = vsCorpus.unionByName(within).localCheckpoint()

    val survivors = bf
      .join(flags.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
    StateStore.append(ledger, survivors, batchId, bucketCols = Seq("doc_id"))
    flags
  }

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
