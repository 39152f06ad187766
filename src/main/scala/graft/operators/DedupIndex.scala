package graft.operators

import graft.state.StateStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

/** Persisted LSH corpus index for INCREMENTAL deduplication — the
  * new-batch-vs-corpus flow a crawl pipeline runs continuously
  * (reference analogue: the db.json ledger that makes re-runs
  * incremental, etl.js:14-19, applied to the dedup family).
  *
  * ONE combined ledger `(doc_id, sd, sig)`, a [[StateStore.loadLog log]]
  * written through [[StateStore]]'s crash-atomic generation protocol
  * (tmp write → `_SUCCESS` commit point → rename swap). One ledger — not a
  * shingles/sigs pair — because atomicity must cover the WHOLE index:
  * two independent saves leave a crash window where the verify side is
  * generation N+1 and the candidate side generation N, silently
  * admitting twins of newly-added docs. Parquet's columnar layout
  * makes the combination free at read time: the candidate side scans
  * only `(doc_id, sig)` (band keys re-derived from sig — 4 md5 calls
  * per doc, pennies next to re-tokenizing), the verify side only
  * `(doc_id, sd)`; neither read touches the other column's bytes.
  *
  * Scale: [[build]] tokenizes the corpus ONCE (the signature columns
  * derive from the same materialized shingle sets). [[dedupBatch]]
  * touches corpus TEXT never and corpus parquet only through the
  * ledger: an incoming batch hashes its own documents, equi-joins
  * |batch|-sized band lists against the stored signatures, and
  * Jaccard-verifies only band-collision candidates — corpus×corpus
  * pairs are never generated, and the per-new-doc best-match window
  * partitions by new_id (no global window). At 100 TB the ledger is
  * the only thing that needs to be hot; the raw text stays cold.
  *
  * DedupIndexSpec proves the restart contract: an index built in one
  * session serves a batch in a brand-new session with ZERO corpus
  * re-tokenization (the executed plan scans the index ledger, not the
  * corpus source).
  */
object DedupIndex {

  val indexSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sd", ArrayType(StringType)),
    StructField("sig", ArrayType(StringType))))

  def indexPath(dir: String): String = s"$dir/index"

  /** The persisted index: base ∪ the deltas [[ingest]] appended. */
  def load(spark: SparkSession, dir: String): StateStore.Log =
    StateStore.loadLog(spark, indexPath(dir), indexSchema)

  /** Build (or atomically refresh) the index from a (doc_id, text)
    * corpus frame. One tokenize pass (the materialized shingle sets
    * feed both columns), ONE [[StateStore.refresh]] — the refresh is
    * all-or-nothing and supersedes every delta folded before it. */
  def build(spark: SparkSession, corpus: DataFrame, dir: String): Unit = {
    val sets = DedupQueries.shingleSetsOf(corpus).localCheckpoint()
    StateStore.refresh(
      sets.join(DedupQueries.minhashFrom(sets), Seq("doc_id")),
      indexPath(dir), bucketCols = Seq("doc_id"))
  }

  /** Dedup an incoming (doc_id, text) batch against the persisted
    * index: LSH band candidates → n-gram Jaccard ≥ `minJaccard` →
    * best corpus match per new doc (highest jaccard, min-id tiebreak).
    * Output: (new_id, dup_of, jaccard), ordered by new_id.
    *
    * The batch side is materialized once (localCheckpoint): its shingle
    * sets feed both the signature/band derivation and the verify join,
    * and the corpus side comes exclusively from the ledger. */
  def dedupBatch(spark: SparkSession, batch: DataFrame, dir: String,
      minJaccard: Double = 0.5): DataFrame = {
    val batchSets = DedupQueries.shingleSetsOf(batch).localCheckpoint()
    flagsAgainst(batchSets, load(spark, dir).rows, minJaccard, withinBatch = false)
  }

  /** The full incremental-ingest step a crawl pipeline runs per
    * delivery: flag the batch against the persisted index AND against
    * itself (within-batch twins attribute to the lowest-id survivor,
    * matching [[graft.streaming.DedupStream.processBatch]]), then FOLD
    * the survivors' (sd, sig) rows into the ledger as one O(batch)
    * [[StateStore.append]] under the log's newest id + 1. Returns the
    * flags; after the call the index covers the new docs, so the next
    * delivery's twins collide. */
  def ingest(spark: SparkSession, batch: DataFrame, dir: String,
      minJaccard: Double = 0.5): DataFrame = {
    val index = load(spark, dir)
    val ledger = index.rows
    val batchSets = DedupQueries.shingleSetsOf(batch).localCheckpoint()
    val flags = flagsAgainst(batchSets, ledger, minJaccard, withinBatch = true)
      .localCheckpoint() // pin: the fold below must not re-run the joins
    val survivors = batchSets
      .join(flags.select(col("new_id").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      // anti-join against the ledger makes a REDELIVERED ingest
      // idempotent: docs folded by the crashed first attempt are not
      // appended twice (the self-pair guard in flagsAgainst keeps them
      // from being flagged against themselves — together: same flags
      // out, ledger unchanged)
      .join(ledger.select("doc_id"), Seq("doc_id"), "left_anti")
    StateStore.append(index, survivors.join(DedupQueries.minhashFrom(survivors), Seq("doc_id")),
      index.newest + 1, bucketCols = Seq("doc_id"))
    flags
  }

  /** Shared flag pipeline: band candidates from the ledger (and, for
    * ingest, from the batch against itself — lower id plays the corpus
    * role), Jaccard-verified over the shingle sets, best match per new
    * doc. */
  private def flagsAgainst(batchSets: DataFrame, ledger: DataFrame,
      minJaccard: Double, withinBatch: Boolean): DataFrame = {
    val batchB = DedupQueries.bandKeys(DedupQueries.minhashFrom(batchSets))
      .select(col("doc_id").as("new_id"), col("band"))
    // hot-band cap on the CORPUS posting lists (the incremental
    // analogue of candidatePairsFrom's cap): a band with m corpus
    // members fans EVERY probing doc out m ways, so a boilerplate
    // crowd makes each delivery O(batch × m). A band over the cap
    // keeps only its min-id representative — each probe meets the rep
    // (one row, still flagged and Jaccard-verified against a genuine
    // crowd member) instead of the whole crowd, and a genuine near
    // twin also still collides through its colder bands. The round-15
    // drop-the-band form probed EMPTY on hot bands, silently admitting
    // every future member of an accumulated crowd — the poisoning the
    // round-15 advice flagged. One window pass over the ledger's
    // (doc_id, sig)-derived bands; the sd column stays unread on this
    // side either way (columnar). The q102 oracle mirrors the cap
    // (ikept CTE); it never trips at fixture scale.
    val corpusB = DedupQueries.cappedBands(
      DedupQueries.bandKeys(ledger.select("doc_id", "sig")), // columnar: sd unread
      DedupQueries.DefaultBandCap)
      .select(col("doc_id").as("corpus_id"), col("band"))
    // the self-pair guard (new_id != corpus_id) is what makes a
    // REDELIVERED ingest safe: after a crash-after-fold retry the batch
    // docs are already in the ledger and would otherwise all match
    // themselves at jaccard 1.0 — the whole delivery silently dropped
    val candCorpus = batchB.join(corpusB, Seq("band"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select("new_id", "corpus_id")
    // the within-batch arm gets the same cap over the BATCH band
    // population — one delivery can carry its own boilerplate crowd.
    // The capped (rep-keeping) side MUST play the survivor role
    // (corpus_id, the lower id): a hot band's rep is its min id, so
    // every other crowd member pairs (new_id > rep) and gets flagged,
    // collapsing the crowd to one survivor with linear fan-out —
    // capping the new_id side instead would emit rep-only rows whose
    // corpus_id < new_id filter never matches
    val batchSelfB = DedupQueries.cappedBands(
      batchB.select(col("new_id").as("doc_id"), col("band")),
      DedupQueries.DefaultBandCap)
    val cand = (if (!withinBatch) candCorpus else candCorpus.unionByName(
      batchB
        .join(batchSelfB.select(col("doc_id").as("corpus_id"), col("band")), Seq("band"))
        .filter(col("corpus_id") < col("new_id"))
        .select("new_id", "corpus_id"))).distinct()
    // verify side of the candidates: corpus shingles from the ledger,
    // plus (for ingest) the batch's own sets for within-batch pairs
    val verifySets =
      if (withinBatch) ledger.select(col("doc_id"), col("sd"))
        .unionByName(batchSets.select("doc_id", "sd"))
      else ledger.select(col("doc_id"), col("sd"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    cand
      .join(batchSets.select(col("doc_id").as("new_id"), col("sd").as("sa")), Seq("new_id"))
      .join(verifySets.select(col("doc_id").as("corpus_id"), col("sd").as("sb")), Seq("corpus_id"))
      .withColumn("jaccard",
        inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter))
      .filter(col("jaccard") >= minJaccard)
      .withColumn("rn", row_number().over(
        Window.partitionBy("new_id")
          .orderBy(col("jaccard").desc, col("corpus_id").asc)))
      .filter(col("rn") === 1)
      .select(col("new_id"), col("corpus_id").as("dup_of"), col("jaccard"))
      .orderBy("new_id")
  }
}
