package graft.streaming

import graft.operators.{DedupQueries, ProbeFold}
import graft.state.StateStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Stream-static incremental dedup — the streaming twin of
  * q102_incremental_dedup: documents arrive as a stream, the corpus
  * LSH band index is a STATIC frame (in production: the persisted
  * signature index the batch pipeline maintains), and collisions come
  * from Structured Streaming's stream-static equi join.
  *
  * A stream-static join is STATELESS on the stream side — no
  * watermark, no state store, no growing memory: each micro-batch
  * derives its rows' band keys with per-row expressions
  * ([[DedupQueries.rowBands]], bit-for-bit the batch hash family) and
  * probes the static index, which Spark plans per micro-batch exactly
  * like the batch join (broadcast when the index is small, shuffle
  * when not).
  *
  * Scale: the stream side only ever hashes its own micro-batch; the
  * static corpus index is re-planned per batch from its (checkpointed /
  * parquet) form, and the self-maintaining index of [[processBatch]]
  * is read per batch as one scan of its log's base and live deltas,
  * whose plan keeps its shape as the log grows: a steady batch
  * compiles only its delta's stamp literal anew. This is the
  * ingest-time flavor of q102's batch flow — flag an arriving doc the
  * moment a band collides, defer the exact Jaccard verify to the
  * batch pass if needed.
  */
object DedupStream {

  /** Collision flags: one row per (arriving doc, corpus doc, band)
    * band collision. Downstream consumers dedup/aggregate as their
    * sink requires (a streaming `distinct` would need state; the raw
    * collision stream is the stateless, replay-safe form). */
  def flagAgainstCorpus(stream: DataFrame, corpusBands: DataFrame): DataFrame =
    ProbeFold.pairs(DedupQueries.rowBands(stream), corpusBands.select("doc_id", "band"))
      .select("doc_id", "dup_of", "band")

  /** The SIMHASH twin of [[flagAgainstCorpus]] — q113's Hamming block
    * probe at ingest time: arriving docs derive per-row signatures
    * ([[DedupQueries.rowBlocks]], bit-for-bit the batch
    * [[DedupQueries.simhashBlockFrame]] family), probe the static
    * corpus signatures `(doc_id, h0..h3)` on [[ProbeFold.blockKeys]],
    * and the exact Hamming verify runs INLINE on the join output
    * (signatures ride both sides — no state, no join-back, no
    * watermark), so a flag is emitted exactly for Hamming ≤
    * [[ProbeFold.HammingMax]] pairs. Keeps BOTH near-dup detectors
    * (MinHash bands + SimHash blocks) on one hash family across ingest
    * and backfill. Output `(doc_id, dup_of, hamming)` may repeat a pair
    * once per colliding block; consumers dedup as their sink requires
    * (the [[flagAgainstCorpus]] convention). */
  def flagSimhashAgainstCorpus(stream: DataFrame, corpusSigs: DataFrame): DataFrame =
    ProbeFold.withinHamming(ProbeFold.pairs(ProbeFold.blockKeys()(DedupQueries.rowBlocks(stream)),
      ProbeFold.blockKeys()(corpusSigs)), col("doc_id"), col("dup_of"))

  /** The CONTAINMENT twin of [[flagAgainstCorpus]] — q197's asymmetric
    * quote detection at ingest time: an arriving doc probes the static
    * corpus band index (same stateless band derivation,
    * [[DedupQueries.rowBandsWithSets]] — bit-for-bit the batch hash
    * family), and the exact containment verify — |arriving ∩ corpus| /
    * |arriving| — runs INLINE on the join output against the corpus
    * shingle-set frame (at scale: the persisted `sd` column of the
    * dedup index, fetched by the equi join). A flag means "this doc is
    * mostly a quote of something we already hold" — the admission
    * decision Jaccard-gated ingest misses (a short quote of a long doc
    * has low Jaccard). Stateless, no watermark; a pair may surface
    * once per colliding band with an IDENTICAL containment value —
    * consumers dedup as their sink requires (the [[flagAgainstCorpus]]
    * convention; an in-stream distinct would need state). */
  def flagQuotesAgainstCorpus(stream: DataFrame, corpusBands: DataFrame,
      corpusSets: DataFrame, minContainment: Double = 0.8): DataFrame =
    quotePairs(stream, corpusBands, corpusSets)
      .filter(col("c_in") >= minContainment)
      .select(col("doc_id"), col("quoted_from"),
        round(col("c_in"), 4).as("containment_r"))

  /** The ADMISSION-POLICY twin of q202's containment keep policy —
    * [[flagQuotesAgainstCorpus]] upgraded from review feed to
    * decision: per (arriving doc, corpus doc) band collision whose
    * max-direction containment clears `threshold`, emit BOTH exact
    * containment directions and the policy's victim under q202's
    * exact rule — both directions over the gate (near-twins) drop the
    * larger doc_id; otherwise the CONTAINED side drops. `drop_arriving`
    * is the admission verdict (victim == the arriving doc); a victim
    * on the corpus side is the retro-flag a compacting sink applies to
    * the held corpus. Same stateless shape as every twin here: band
    * derivation per-row, corpus sets fetched by the equi join, exact
    * intersection inline, no watermark; a pair may surface once per
    * colliding band with IDENTICAL values — consumers dedup as their
    * sink requires. DedupStreamSpec proves the decisions equal q202's
    * batch policy rows on the planted quote corpus. */
  def admitQuotesAgainstCorpus(stream: DataFrame, corpusBands: DataFrame,
      corpusSets: DataFrame, threshold: Double = 0.8): DataFrame =
    quotePairs(stream, corpusBands, corpusSets)
      .filter(greatest(col("c_in"), col("c_out")) >= threshold)
      .withColumn("victim",
        when(col("c_in") >= threshold && col("c_out") >= threshold,
          greatest(col("doc_id"), col("quoted_from")))
          .when(col("c_in") >= threshold, col("doc_id"))
          .otherwise(col("quoted_from")))
      .select(col("doc_id"), col("quoted_from"),
        round(col("c_in"), 4).as("c_in_r"),
        round(col("c_out"), 4).as("c_out_r"),
        col("victim"),
        (col("victim") === col("doc_id")).as("drop_arriving"))

  /** The quote twins' shared probe: per (arriving doc, corpus doc) band
    * collision, `(doc_id, quoted_from, c_in, c_out)` — the exact
    * containment of the arriving doc in the corpus doc (`c_in`) and
    * the reverse (`c_out`), the corpus `sd` fetched by the equi join
    * and the intersection computed once per row. */
  private def quotePairs(stream: DataFrame, corpusBands: DataFrame,
      corpusSets: DataFrame): DataFrame =
    ProbeFold.pairs(DedupQueries.rowBandsWithSets(stream), corpusBands.select("doc_id", "band"))
      .withColumnRenamed("dup_of", "quoted_from")
      .filter(col("doc_id") =!= col("quoted_from"))
      .join(corpusSets.select(col("doc_id").as("quoted_from"),
        col("sd").as("corpus_sd")), Seq("quoted_from"))
      .withColumn("inter",
        size(array_intersect(col("sd"), col("corpus_sd"))).cast("double"))
      .select(col("doc_id"), col("quoted_from"),
        (col("inter") / size(col("sd"))).as("c_in"),
        (col("inter") / size(col("corpus_sd"))).as("c_out"))

  // ---- self-maintaining index: within-stream twins ----------------

  /** Probe-index ledger schema: every band of every SURVIVING (non-
    * duplicate) doc, stamped with the micro-batch that folded it in.
    * The stamp is what makes replay exact (see [[processBatch]]). */
  val bandsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("band", StringType),
    StructField(StateStore.Stamp, LongType)))

  /** The live index view: base ∪ the deltas newer than base's newest
    * fold ([[StateStore.loadLog]]). */
  def loadIndex(spark: SparkSession, indexPath: String): DataFrame =
    StateStore.loadLog(spark, indexPath, bandsSchema).rows

  /** One micro-batch of the SELF-MAINTAINING dedup flow: flag the
    * arriving docs against the persisted probe index AND against each
    * other, then fold the survivors' bands into the index — so a twin
    * arriving in a LATER micro-batch collides with a doc this one
    * admitted (the gap a static corpus index leaves open). The steps,
    * the hot-band cap included, are [[ProbeFold]]'s; the keys are the
    * per-row [[DedupQueries.rowBands]], the verify is none.
    *
    * Returns the flag rows (doc_id, dup_of, band): band collisions
    * against earlier-batch survivors, plus within-batch collisions
    * attributed to the lowest-id colliding doc (deterministic under
    * replay, no arrival-order dependence inside a batch).
    *
    * EXACTLY-ONCE under foreachBatch's at-least-once replay, without a
    * side channel ([[ProbeFold.BatchStamp]]): rows folded by batch N
    * carry `added_batch = N`, and on a replay both the probe and the
    * fold ignore ledger rows stamped `batchId` or later, so a replayed
    * batch probes the identical pre-fold index and re-derives the
    * identical fold.
    *
    * Scale: the stream side hashes only its own micro-batch, and the
    * index is a [[StateStore.loadLog log]]: each batch appends only its
    * own survivors under its batch id (O(batch) bytes, one atomic
    * generation swap), the log compacts into its base every
    * [[StateStore.CompactEvery]] deltas, and a batch id below the
    * newest fold — a restart with a fresh checkpoint — fails loud
    * instead of wiping the index. */
  def processBatch(spark: SparkSession, batchDocs: DataFrame,
      indexPath: String, batchId: Long): DataFrame =
    ProbeFold(StateStore.loadLog(spark, indexPath, bandsSchema),
      DedupQueries.rowBands(batchDocs).localCheckpoint(), _.select("doc_id", "band"),
      ProbeFold.BatchStamp(batchId), capHotKeys = true, Seq("band"))((c, _) => c.select("doc_id", "dup_of", "band"))

  /** Streaming wiring: readStream → foreachBatch([[processBatch]]) →
    * caller's sink. The sink receives (flags, batchId) and must be
    * idempotent on batchId (the foreachBatch contract); the index side
    * needs nothing more — replay regenerates identical flags and an
    * identical fold. */
  def startWithIndexMaintenance(stream: DataFrame, indexPath: String,
      checkpointDir: String, sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(processBatch(batch.sparkSession, batch, indexPath, batchId), batchId)
      }
      .start()
}
