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
  * the entire economics of fingerprint dedup. Writes go through
  * [[StateStore]]'s crash-atomic generation protocol, same as the text
  * index (tmp write → `_SUCCESS` → rename swap): a torn refresh can
  * never mix generations.
  *
  * Matching is modality-KEYED: image dHashes and audio energy contours
  * live in the same 64-bit space, so a cross-modality block collision
  * is meaningless noise — the join key (modality, block_idx, block)
  * excludes it structurally instead of filtering it after the fact.
  *
  * Scale: batch decode is a narrow map (pixels/samples die there, 8
  * bytes/item shuffle); candidates come from the q113/q127 pigeonhole
  * (Hamming ≤ 3 over 4 × 16-bit blocks ⟹ ≥ 1 equal block — provably
  * complete); the best-match window partitions by new_id (per-item
  * groups, never global). Corpus payloads are NEVER re-decoded.
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
    StateStore.save(fingerprints(spark, corpus), indexPath(dir),
      bucketCols = Seq("doc_id"))

  /** Pigeonhole candidate keys of fingerprint rows: one row per 16-bit
    * block, `(doc_id, band, h0..h3)` with the block's `(modality, k,
    * bv)` packed into `band`, so two items are candidates iff they share
    * a block at the same position within one modality. */
  private[graft] def blockKeys(rows: DataFrame): DataFrame =
    rows.selectExpr("*", "posexplode(array(h0, h1, h2, h3)) AS (k, bv)")
      .selectExpr("doc_id", "struct(modality, k, bv) AS band", "h0", "h1", "h2", "h3")

  /** The exact Hamming gate over [[ProbeFold.pairs]] candidate rows of
    * [[blockKeys]]: `h0..h3` against the survivor's `dup_h0..dup_h3`,
    * kept at ≤ `maxHamming` as (doc_id, modality, dup_of, hamming). */
  private[graft] def verified(cand: DataFrame, maxHamming: Int): DataFrame =
    cand.selectExpr("doc_id", "band.modality", "dup_of", (0 until 4)
        .map(i => s"bit_count(h$i ^ dup_h$i)").mkString("CAST(", " + ", " AS INT) AS hamming"))
      .filter(col("hamming") <= maxHamming)

  /** Dedup an incoming (doc_id, payload) media batch against the
    * persisted ledger: decode the batch only, pigeonhole block
    * candidates within modality ([[blockKeys]], uncapped: q137's oracle
    * is the exact pair set), exact Hamming ≤ `maxHamming` verify
    * inline, best corpus match per new item (lowest hamming, min-id
    * tiebreak). Output: (new_id, modality, dup_of, hamming). */
  def dedupBatch(spark: SparkSession, batch: DataFrame, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val ledger = StateStore.load(spark, indexPath(dir), indexSchema)
    val bf = fingerprints(spark, batch).localCheckpoint()
    ProbeFold.bestMatch(verified(ProbeFold.pairs(blockKeys(bf), blockKeys(ledger)), maxHamming)
      .distinct(), col("hamming").asc).withColumnRenamed("doc_id", "new_id")
  }
}
