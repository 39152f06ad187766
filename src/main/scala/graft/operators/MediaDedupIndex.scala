package graft.operators

import graft.state.StateStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Persisted FINGERPRINT ledger for incremental MULTIMODAL dedup —
  * [[DedupIndex]]'s pattern (the db.json incremental-re-run analogue,
  * reference etl.js:14-19) applied to the media tier: a crawl keeps one
  * tiny modality-tagged hash ledger hot, and each incoming media batch
  * decodes ONLY its own payloads, then equi-joins its fingerprint
  * blocks against the store.
  *
  * One ledger row is (doc_id, modality, h0..h3): 8 hash bytes + a tag
  * per item, whatever the payload size — the ledger for a billion-item
  * media corpus is gigabytes where the corpus is petabytes, which is
  * the entire economics of fingerprint dedup. The ledger is a
  * [[StateStore.loadLog log]] like [[DedupIndex]]'s, rebuilt by one
  * crash-atomic [[StateStore.refresh]] (a torn refresh can never mix
  * generations). It stays apart from [[graft.streaming.MediaDedupStream]]'s
  * `media_stream_index`: a refreshed base is stamped 0, which a
  * stream's batch 0 would read as its own replay and ignore.
  *
  * Matching is modality-KEYED: image dHashes and audio energy contours
  * live in the same 64-bit space, so a cross-modality block collision
  * is meaningless noise — the block key carries `modality`
  * ([[ProbeFold.blockKeys]]) and excludes it structurally instead of
  * filtering it after the fact.
  *
  * Scale: batch decode is a narrow map (pixels/samples die there, 8
  * bytes/item shuffle); candidates come from [[ProbeFold]]'s Hamming
  * block probe (provably complete, so no key is capped); the best-match
  * window partitions by new_id (per-item groups, never global). Corpus
  * payloads are NEVER re-decoded.
  */
object MediaDedupIndex {

  val indexSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("modality", StringType),
    StructField("h0", IntegerType),
    StructField("h1", IntegerType),
    StructField("h2", IntegerType),
    StructField("h3", IntegerType)))

  def indexPath(dir: String): String = s"$dir/media_index"

  /** Per-partition decode→fingerprint over a (doc_id, payload) frame,
    * modality DETECTED from magic bytes (never trusted metadata): BMP →
    * grid dHash, WAV → energy contour. One row of 8 hash bytes + tag
    * per item. */
  def fingerprints(spark: SparkSession, media: DataFrame): DataFrame = {
    val rdd = media.select("doc_id", "payload").rdd.mapPartitions(_.map { r =>
      val p = r.getAs[Array[Byte]]("payload")
      val (modality, b) =
        if (p.length >= 2 && p(0) == 'B' && p(1) == 'M')
          ("image", MultimodalQueries.bmpDHashBlocks(p))
        else
          ("audio", MultimodalQueries.wavFingerprintBlocks(p))
      Row(r.getLong(0), modality, b(0), b(1), b(2), b(3))
    })
    spark.createDataFrame(rdd, indexSchema)
  }

  /** Build (or atomically refresh) the ledger from a media corpus. */
  def build(spark: SparkSession, corpus: DataFrame, dir: String): Unit =
    StateStore.refresh(fingerprints(spark, corpus), indexPath(dir), Seq("doc_id"))

  /** The media probe's keys — fingerprint blocks within modality — and
    * its verify, the exact Hamming gate as (doc_id, modality, dup_of,
    * hamming); [[graft.streaming.MediaDedupStream]] probes the same. */
  private[graft] val keysOf: DataFrame => DataFrame = ProbeFold.blockKeys("modality")
  private[graft] def verify(cand: DataFrame, rows: DataFrame): DataFrame =
    ProbeFold.withinHamming(cand, col("doc_id"), col("band.modality"), col("dup_of"))

  /** Dedup an incoming (doc_id, payload) media batch against the
    * persisted ledger: decode the batch only, [[ProbeFold.probe]] the
    * ledger under [[ProbeFold.DocIdGuard]] (a doc never matches its own
    * ledger rows) with every key kept (q137's oracle is the exact pair
    * set), best corpus match per new item (lowest hamming, min-id
    * tiebreak). Output: (new_id, modality, dup_of, hamming). */
  def dedupBatch(spark: SparkSession, batch: DataFrame, dir: String): DataFrame =
    ProbeFold.bestMatch(ProbeFold.probe(StateStore.loadLog(spark, indexPath(dir), indexSchema),
      fingerprints(spark, batch).localCheckpoint(), keysOf, ProbeFold.DocIdGuard, capHotKeys = false)(verify),
      col("hamming").asc).withColumnRenamed("doc_id", "new_id")
}
