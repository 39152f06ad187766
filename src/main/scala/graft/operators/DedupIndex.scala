package graft.operators

import graft.state.StateStore
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * the only thing that needs to be hot; the raw text stays cold. The
  * probe, its hot-band cap and [[ingest]]'s fold are [[ProbeFold]]'s;
  * this object supplies the keys (bands of the stored `sig`) and the
  * Jaccard verify.
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
  def build(spark: SparkSession, corpus: DataFrame, dir: String): Unit =
    StateStore.refresh(rowsOf(corpus), indexPath(dir), bucketCols = Seq("doc_id"))

  /** Dedup an incoming (doc_id, text) batch against the persisted
    * index: LSH band candidates → n-gram Jaccard ≥ `minJaccard` →
    * best corpus match per new doc (highest jaccard, min-id tiebreak).
    * Output: (new_id, dup_of, jaccard), ordered by new_id. The batch's
    * shingle sets are pinned once and feed both its signatures and the
    * verify; the corpus side comes only from the ledger
    * ([[ProbeFold.probe]] under [[ProbeFold.DocIdGuard]]). */
  def dedupBatch(spark: SparkSession, batch: DataFrame, dir: String,
      minJaccard: Double = 0.5): DataFrame = {
    val index = load(spark, dir)
    ProbeFold.probe(index, DedupQueries.shingleSetsOf(batch).localCheckpoint(), keysOf,
      ProbeFold.DocIdGuard, capHotKeys = true)(verified(index.rows, minJaccard))
      .withColumnRenamed("doc_id", "new_id")
  }

  /** The full incremental-ingest step a crawl pipeline runs per
    * delivery: flag the batch against the persisted index AND against
    * itself (lowest-id attribution), then FOLD the survivors' (sd, sig)
    * rows into the ledger as one O(batch) [[StateStore.append]], so the
    * next delivery's twins collide. [[ProbeFold]] under
    * [[ProbeFold.DocIdGuard]]: a REDELIVERED ingest returns the same
    * flags and leaves the ledger unchanged. */
  def ingest(spark: SparkSession, batch: DataFrame, dir: String,
      minJaccard: Double = 0.5): DataFrame = {
    val index = load(spark, dir)
    // pinned: the flags and the fold both read the rows' signatures
    ProbeFold(index, rowsOf(batch).localCheckpoint(), keysOf, ProbeFold.DocIdGuard, capHotKeys = true,
      Seq("doc_id"))((cand, rows) => verified(index.rows.select("doc_id", "sd")
        .unionByName(rows.select("doc_id", "sd")), minJaccard)(cand, rows))
      .withColumnRenamed("doc_id", "new_id")
  }

  /** (doc_id, text) docs as ledger rows: the shingle sets (tokenized
    * once and pinned) and their MinHash signatures. */
  private def rowsOf(docs: DataFrame): DataFrame = {
    val sets = DedupQueries.shingleSetsOf(docs).localCheckpoint()
    sets.join(DedupQueries.minhashFrom(sets), Seq("doc_id"))
  }

  /** Band keys of ledger rows from `sig` alone (`sd` stays unread on
    * the band side), or of bare shingle sets through their signatures.
    * The q102 oracle mirrors the hot-band cap (ikept CTE). */
  private val keysOf = (rows: DataFrame) => DedupQueries.bandKeys(
    if (rows.columns.contains("sig")) rows.select("doc_id", "sig") else DedupQueries.minhashFrom(rows))

  /** The Jaccard verify of each candidate's batch set against the
    * survivor's from `sets`, then the best match per batch doc. */
  private def verified(sets: DataFrame, minJaccard: Double)(cand: DataFrame, rows: DataFrame): DataFrame = {
    val inter = size(array_intersect(col("sa"), col("sb")))
    ProbeFold.bestMatch(cand.select("doc_id", "dup_of").distinct()
      .join(rows.select(col("doc_id"), col("sd").as("sa")), Seq("doc_id"))
      .join(sets.select(col("doc_id").as("dup_of"), col("sd").as("sb")), Seq("dup_of"))
      .withColumn("jaccard", inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter))
      .filter(col("jaccard") >= minJaccard).select("doc_id", "dup_of", "jaccard"), col("jaccard").desc)
  }
}
