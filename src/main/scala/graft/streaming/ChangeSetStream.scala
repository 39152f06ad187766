package graft.streaming

import graft.sinks.HttpSink
import graft.sinks.HttpSink.{RateLimitedWriter, RetryPolicy, Transport}
import graft.state.StateStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming change-set shipper — the streaming twin of
  * [[graft.sinks.HttpSink.sendPhase]],
  * closing the loop between §2.10 streaming and the S11/S12 connector
  * tier: a stream of rendered request rows (key columns + `method`,
  * `url`, `body`) is shipped through ONE rate-limited writer per
  * micro-batch.
  *
  * Idempotence across restarts: Structured Streaming replays the
  * in-flight micro-batch after a failure, so each batch first
  * anti-joins an *applied-key ledger* and only sends rows whose key is
  * absent — the reference's `store.get` guard before every mutation
  * (etl.js:41-59) in streaming form. Only 2xx responses admit their
  * keys, so an unacknowledged write stays eligible for the replay,
  * mirroring EtlMain's acked-only resume.
  *
  * The ledger is a [[StateStore.loadLog log]]: each batch appends only
  * its acknowledged keys as a new delta (under the log's newest id + 1,
  * so a replayed batch never overwrites an earlier batch's acks),
  * through the same atomic rename swap + crash recovery the batch
  * ledgers use — a crash mid-commit can never read back as an empty
  * ledger (which would re-send every acknowledged mutation).
  *
  * 100 TB posture: the expensive derivation upstream (diffing desired
  * state, rendering request bodies) stays a parallel streaming plan;
  * only the change set — bounded by the endpoint's rate limit, exactly
  * the rows the reference serializes one-by-one — reaches the driver.
  * The ledger anti-join broadcasts when small and shuffles when not;
  * the send streams one partition at a time, and what the driver
  * keeps — the acked keys — is bounded by what a rate-limited API can
  * absorb in a trigger interval (~0.33 req/s at the reference's
  * pacing), never by corpus size.
  */
object ChangeSetStream {

  /** @param changes   streaming frame: `keyCols ++ (method, url, body)`
    * @param ledgerDir parquet dir holding the applied keys (created on
    *                  first acknowledged batch)
    * @param sleeper   injectable for tests (virtual time)
    * @return the started query; callers own its lifecycle
    *         (`processAllAvailable`/`awaitTermination` + `stop`) */
  def ship(
      changes: DataFrame,
      transport: Transport,
      ledgerDir: String,
      keyCols: Seq[String],
      policy: RetryPolicy = RetryPolicy(),
      checkpointDir: Option[String] = None,
      sleeper: Long => Unit = Thread.sleep): StreamingQuery = {
    val writer = changes.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        shipBatch(batch, transport, ledgerDir, keyCols, policy, sleeper)
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** One micro-batch: ledger guard → ordered send → ack append. Also
    * the batch-mode building block (a replayed batch IS a batch job). */
  def shipBatch(
      batch: DataFrame,
      transport: Transport,
      ledgerDir: String,
      keyCols: Seq[String],
      policy: RetryPolicy = RetryPolicy(),
      sleeper: Long => Unit = Thread.sleep): Unit = {
    val spark = batch.sparkSession
    val keySchema = StructType(batch.select(keyCols.map(col): _*).schema.fields)
    val applied = StateStore.loadLog(spark, ledgerDir, keySchema)
    val (acked, _) = HttpSink.sendPhase(new RateLimitedWriter(transport, policy, sleeper),
      batch.join(applied.rows, keyCols, "left_anti"), keyCols)
    if (acked.nonEmpty)
      StateStore.append(applied, spark.createDataFrame(
        spark.sparkContext.parallelize(acked.map(a => Row.fromSeq(a._1)), 1), keySchema),
        applied.newest + 1, bucketCols = keyCols)
  }
}
