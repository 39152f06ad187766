package graft.operators

import DedupQueries.{DefaultBandCap, cappedBands}
import graft.state.StateStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one probe-and-fold step of the ledger-backed dedup operators
  * (DedupStream and MediaDedupStream `processBatch`, [[DedupIndex]]
  * `ingest`, and `dedupBatch` probe-only) — the db.json incremental
  * re-run (reference etl.js:14-19) for a hash-keyed ledger: flag a
  * batch against the ledger and within itself (the lower id survives),
  * then fold the survivors' rows in, so the next batch's twins collide.
  *
  * A caller supplies the batch pinned, in its ledger's row shape (for
  * [[probe]], any shape `keysOf` and `verify` read); `keysOf` deriving
  * `(doc_id, band, carried…)` keys from such rows, the same function on
  * both sides; and a `verify` of the candidate rows, whose survivor
  * side is renamed `doc_id` → `dup_of`, carried `c` → `dup_c`.
  *
  * Which survivor-side keys the probes keep:
  *  - `capHotKeys`, for band keys: a key with m members fans every
  *    prober out m ways, and a crowd inside one batch self-joins m².
  *    A key over [[DedupQueries.DefaultBandCap]] members keeps only its
  *    min-id representative ([[DedupQueries.cappedBands]]): an over-cap
  *    crowd still flags, against the rep with linear fan-out, and folds
  *    ONE survivor; a near twin of a non-rep member still collides
  *    through its colder bands. Capping the prober side instead would
  *    emit rep-only rows the id order never matches; dropping the key
  *    (round 15) let the crowd fold whole and hid it from every later
  *    probe. The cap is over the ledger the [[IdPolicy]] lets the probe
  *    read, so a replay keeps the same set.
  *  - not `capHotKeys`, for a complete candidate search (the Hamming
  *    block probe below, whose one equal block may be a hot one such as
  *    a flat image quarter): every key is kept, and only batch rows
  *    equal but for `doc_id` collapse to their min id — the same
  *    flagged ids, with linear fan-out.
  *
  * The Hamming block probe, every 64-bit near-duplicate search's keys
  * and verify (simhash q113 and its stream twin, image q127, audio
  * q131, q136, the media index and stream): a signature is 4 × 16-bit
  * blocks `h0..h3`, and two signatures within [[HammingMax]] = blocks −
  * 1 bits agree on at least one whole block (Manku/Charikar
  * pigeonhole), so [[blockKeys]]' equi-join on one block is a complete
  * candidate set and [[withinHamming]] the exact verify. A larger bound
  * would make the block join silently incomplete, so there is none.
  */
object ProbeFold {

  /** A signature's 16-bit block columns, and the widest Hamming
    * distance the one-block join finds every pair within: blocks − 1. */
  private val BlockCols = (0 until 4).map(i => s"h$i")
  val HammingMax: Int = BlockCols.size - 1

  /** What the probe may read of the ledger and under which id the
    * survivors fold. */
  sealed trait IdPolicy

  /** A stream's micro-batch: ledger rows stamped `batchId` or later
    * are ignored and the survivors fold under `batchId`, so a replay
    * (foreachBatch is at-least-once) emits the same flags and rewrites
    * the same delta. The stamp filter applies only on a replay (the log
    * already folded `batchId`): below it no row carries such a stamp,
    * and a steady batch's plan then holds no batch-id literal for
    * codegen to compile anew. */
  final case class BatchStamp(batchId: Long) extends IdPolicy

  /** A redeliverable batch: the whole ledger bar each doc's own rows is
    * probed, and only doc ids the ledger lacks fold, under its newest id
    * + 1, so a redelivery after a crash-after-fold changes nothing. */
  case object DocIdGuard extends IdPolicy

  /** Flags of `rows` against `log` and within itself, verified and
    * pinned; the unflagged rows are then appended to `log`. */
  def apply(log: StateStore.Log, rows: DataFrame, keysOf: DataFrame => DataFrame, ids: IdPolicy,
      capHotKeys: Boolean, bucketCols: Seq[String])(verify: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val keys = keysOf(rows)
    val within = pairs(keys, if (capHotKeys) cappedBands(keys, DefaultBandCap) else keysOf(rows
      .groupBy(rows.columns.filter(_ != "doc_id").map(col): _*).agg(min("doc_id").as("doc_id"))))
      .filter(col("dup_of") < col("doc_id"))
    val flags = verify(vsLedger(log, keys, keysOf, ids, capHotKeys).unionByName(within), rows).localCheckpoint()
    // a flag set is bounded by its batch: broadcast it, duplicates and all
    val unflagged = rows.join(broadcast(flags.select("doc_id")), Seq("doc_id"), "left_anti")
    ids match {
      case BatchStamp(batchId) => StateStore.append(log, unflagged, batchId, bucketCols)
      case DocIdGuard => StateStore.append(log, unflagged.join(log.rows.select("doc_id"), Seq("doc_id"),
        "left_anti"), log.newest + 1, bucketCols)
    }
    flags
  }

  /** [[apply]]'s ledger probe alone: no within-batch arm, no fold. */
  def probe(log: StateStore.Log, rows: DataFrame, keysOf: DataFrame => DataFrame, ids: IdPolicy,
      capHotKeys: Boolean)(verify: (DataFrame, DataFrame) => DataFrame): DataFrame =
    verify(vsLedger(log, keysOf(rows), keysOf, ids, capHotKeys), rows)

  /** Candidate rows of `keys` probing `survivorKeys` on the band, the
    * survivor side renamed: `doc_id` → `dup_of`, carried `c` → `dup_c`. */
  private[graft] def pairs(keys: DataFrame, survivorKeys: DataFrame): DataFrame =
    keys.join(survivorKeys.toDF(survivorKeys.columns.toSeq.map(c =>
      if (c == "band") c else if (c == "doc_id") "dup_of" else s"dup_$c"): _*), Seq("band"))

  /** Pigeonhole keys of signature rows `(doc_id, h0..h3, tags…)`: one
    * row per block, `(doc_id, band, h0..h3)` with `band = struct(tags…,
    * k, bv)`, block `k` of value `bv`, so two rows are candidates iff
    * they share a block at the same position (within equal tags — the
    * media `modality`). Any other column (a ledger stamp) stays out. */
  private[graft] def blockKeys(tags: String*)(rows: DataFrame): DataFrame =
    rows.selectExpr("*", s"posexplode(array(${BlockCols.mkString(", ")})) AS (k, bv)")
      .selectExpr("doc_id" +: s"struct(${(tags :+ "k" :+ "bv").mkString(", ")}) AS band" +: BlockCols: _*)

  /** The exact Hamming gate over [[pairs]] rows of [[blockKeys]]: `keep`
    * and `hamming`, the bits `h0..h3` differ from the survivor's
    * `dup_h0..dup_h3` in, kept at ≤ [[HammingMax]]. */
  private[graft] def withinHamming(cand: DataFrame, keep: Column*): DataFrame =
    cand.select(keep :+ expr(BlockCols.map(h => s"bit_count($h ^ dup_$h)")
        .mkString("CAST(", " + ", " AS INT)")).as("hamming"): _*)
      .filter(col("hamming") <= HammingMax)

  /** Every pair of signature rows within [[HammingMax]], once each as
    * `(doc_a < doc_b, hamming)`, ordered: the block self-join. */
  private[graft] def hammingPairs(sigs: DataFrame, tags: String*): DataFrame = {
    val keys = blockKeys(tags: _*)(sigs)
    withinHamming(pairs(keys, keys).filter(col("doc_id") < col("dup_of")),
      col("doc_id").as("doc_a"), col("dup_of").as("doc_b")).distinct().orderBy("doc_a", "doc_b")
  }

  /** The best flag per batch doc — first by `order`, then the lowest
    * `dup_of` — ordered by doc_id: the index lookups' match rule. */
  private[graft] def bestMatch(flags: DataFrame, order: Column): DataFrame =
    flags.withColumn("rn", row_number().over(Window.partitionBy("doc_id")
      .orderBy(order, col("dup_of").asc))).filter(col("rn") === 1).drop("rn").orderBy("doc_id")

  private def vsLedger(log: StateStore.Log, keys: DataFrame, keysOf: DataFrame => DataFrame,
      ids: IdPolicy, capHotKeys: Boolean): DataFrame = {
    val ledger = keysOf(ids match {
      case BatchStamp(batchId) if log.newest >= batchId => log.rows.filter(col(StateStore.Stamp) < batchId)
      case _ => log.rows
    })
    val cand = pairs(keys, if (capHotKeys) cappedBands(ledger, DefaultBandCap) else ledger)
    if (ids == DocIdGuard) cand.filter(col("doc_id") =!= col("dup_of")) else cand
  }
}
