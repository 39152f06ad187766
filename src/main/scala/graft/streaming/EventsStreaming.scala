package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table — the streaming
  * twins of [[graft.operators.EventQueries]] (SURVEY.md §2.10). Batch
  * verifies semantics via the DuckDB oracle; these wire the *same*
  * logical plans behind `readStream` so a production deployment swaps
  * the source, not the query.
  *
  * The reference's only "state" is its KV idempotence ledger
  * (etl.js:9-19, 33-50); [[runningCounts]] models exactly that pattern
  * as `flatMapGroupsWithState` — keyed mutable state, incremental
  * updates, emitted deltas.
  */
object EventsStreaming {

  /** Current-generation physical schema (`ts` as TIMESTAMP_NTZ, the
    * micro-precision encoding the generator ships today) — the
    * start-before-data fallback when the source directory has no
    * footers to probe yet. */
  private val defaultRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Raw parquet schema with `ts` as whatever physical type the files
    * landed with. FileStreamSource needs an explicit schema, so probe
    * the directory with a one-off batch footer read (cheap: no data
    * scan) instead of hard-coding the generator's encoding — the
    * testdata has shipped both INT64 TIMESTAMP(NANOS) and plain
    * micro-precision TIMESTAMP across rounds. The NANOS legacy
    * fallback lives in [[graft.Tables.loadEventsRaw]] (one definition
    * with the batch reader); an EMPTY directory — the standard
    * start-stream-before-data pattern — falls back to the
    * current-generation schema instead of failing stream setup.
    *
    * Only the no-footers-to-probe conditions (empty dir / missing
    * path / unable-to-infer) take the fallback; any other
    * AnalysisException (corrupt footer, permissions) is a real error
    * and rethrows, so failures surface at stream setup instead of as
    * a later schema mismatch. Known limitation, by construction: if
    * the directory is empty at stream start and the FIRST files to
    * land are legacy INT64 TIMESTAMP(NANOS), the NTZ fallback schema
    * is wrong and the stream fails at runtime — restart the stream
    * once data exists (the probe then adapts). Pinned in
    * EventsStreamingSpec. */
  private def probeSchema(spark: SparkSession, path: String): StructType =
    try graft.Tables.loadEventsRaw(spark, path).schema
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage != null && (
            e.getMessage.contains("Unable to infer schema") ||
            e.getMessage.contains("Path does not exist") ||
            e.getMessage.contains("empty")) =>
        defaultRawSchema
    }

  final case class Event(
      event_id: Long,
      ts: java.sql.Timestamp,
      user_id: Long,
      event_type: String,
      value: Double)

  final case class UserRunning(user_id: Long, n_events: Long, value_sum: Double)

  /** Streaming source over an events parquet directory/file. The
    * probed schema keeps the stream's physical read faithful to the
    * files; [[graft.Tables.normalizeEventsTs]] then gives the exact
    * batch-twin `ts` column regardless of encoding. */
  def readEvents(spark: SparkSession, path: String): DataFrame = {
    val schema = probeSchema(spark, path)
    graft.Tables.normalizeEventsTs(
      spark.readStream.schema(schema).parquet(path))
  }

  /** Tumbling 5-minute counts with a 10-minute watermark (late data
    * beyond the watermark is dropped, state is bounded). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))

  /** Session windows per user (10-minute gap), watermarked. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Streaming dedup: first event per (user, type) within the
    * watermark horizon — batch twin is q45_dedup_first_event.
    * `dropDuplicatesWithinWatermark` (not plain `dropDuplicates`) ties
    * the dedup state to the watermark so it is actually evicted as event
    * time advances; `dropDuplicates` without the event-time column in
    * the key never evicts and grows state unboundedly. */
  def dedupFirstEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))

  /** Keyed running aggregates via flatMapGroupsWithState — the
    * reference's incremental-ledger pattern (etl.js meta:card keys):
    * per-key mutable state, updated per batch, emitting current
    * totals. State is one small record per active user; a production
    * deployment with unbounded key churn would add a state timeout
    * (ProcessingTimeTimeout + state.setTimeoutDuration) to evict idle
    * keys. */
  def runningCounts(spark: SparkSession, events: DataFrame): Dataset[UserRunning] = {
    import spark.implicits._
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[UserRunning]) => {
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          var n = prev.n_events
          var sum = prev.value_sum
          batch.foreach { e => n += 1; sum += e.value }
          val next = UserRunning(userId, n, sum)
          state.update(next)
          Iterator.single(next)
        })
  }

  final case class FunnelState(user_id: Long,
      t1: Option[java.sql.Timestamp],
      t2: Option[java.sql.Timestamp],
      t3: Option[java.sql.Timestamp])
  final case class FunnelStage(user_id: Long, stage: Int)

  /** Per-user funnel state machine (mapGroupsWithState tier) — the
    * ingest-time twin of q142's batch funnel: state carries the first
    * view, the first click after it, the first purchase after that;
    * each micro-batch's events apply in event-time order and the
    * user's CURRENT stage is emitted per batch (stages are monotone,
    * so the last emission is the answer). With per-user
    * event-time-ordered arrival (the keyed-log deployment norm; the
    * spec feeds ts-split files in order) the final stages equal the
    * batch funnel EXACTLY — bounded disorder would buffer behind a
    * watermark before this update, same state logic. State is three
    * optional timestamps per active user; unbounded key churn would
    * add a state timeout, the [[runningCounts]] caveat. */
  def funnelStages(spark: SparkSession, events: DataFrame): Dataset[FunnelStage] = {
    import spark.implicits._
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[FunnelState]) => {
          var st = state.getOption.getOrElse(FunnelState(userId, None, None, None))
          // full-precision order (getTime truncates micros — see
          // intervalRuns): floor-second + nanos is monotone in ts
          batch.toSeq
            .sortBy(e => (Math.floorDiv(e.ts.getTime, 1000L), e.ts.getNanos, e.event_id))
            .foreach { e =>
            e.event_type match {
              case "view" if st.t1.isEmpty =>
                st = st.copy(t1 = Some(e.ts))
              case "click" if st.t2.isEmpty && st.t1.exists(t => e.ts.after(t)) =>
                st = st.copy(t2 = Some(e.ts))
              case "purchase" if st.t3.isEmpty && st.t2.exists(t => e.ts.after(t)) =>
                st = st.copy(t3 = Some(e.ts))
              case _ => ()
            }
          }
          state.update(st)
          val stage =
            if (st.t3.nonEmpty) 3 else if (st.t2.nonEmpty) 2
            else if (st.t1.nonEmpty) 1 else 0
          Iterator.single(FunnelStage(userId, stage))
        })
  }

  final case class RunState(user_id: Long, event_type: String,
      valid_from: java.sql.Timestamp, first_event_id: Long, n_events: Long)
  final case class ClosedRun(user_id: Long, event_type: String,
      valid_from: java.sql.Timestamp, valid_to: java.sql.Timestamp,
      first_event_id: Long, n_events: Long)

  /** Ingest-time twin of q159's SCD2 interval build: per-user state
    * carries the OPEN run (type, valid_from, first id, count); each
    * arriving event either extends it or closes it — a closed run is
    * emitted with valid_to = the closing event's ts, exactly the
    * interval the batch ledger assigns. The open run stays in state
    * across micro-batches (only runs that CLOSE are ever emitted,
    * Append-mode clean), so the emitted set equals the batch q159
    * rows with non-null valid_to under per-user event-time-ordered
    * arrival — pinned by EventsStreamingSpec against the live batch
    * query. State is one small record per active user; unbounded key
    * churn would add a timeout, the [[runningCounts]] caveat. */
  def intervalRuns(spark: SparkSession, events: DataFrame): Dataset[ClosedRun] = {
    import spark.implicits._
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[RunState]) => {
          val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedRun]
          var st = state.getOption.orNull
          // Full-precision event-time order: Timestamp.getTime truncates
          // to millis while events carry micros, so two same-user events
          // inside one millisecond could segment runs differently from
          // the batch q159 ledger (which orders by full-precision ts).
          // getNanos carries the sub-second part exactly (r13 advice).
          batch.toSeq
            .sortBy(e => (Math.floorDiv(e.ts.getTime, 1000L), e.ts.getNanos, e.event_id))
            .foreach { e =>
            if (st == null) {
              st = RunState(userId, e.event_type, e.ts, e.event_id, 1L)
            } else if (st.event_type == e.event_type) {
              st = st.copy(n_events = st.n_events + 1)
            } else {
              closed += ClosedRun(userId, st.event_type, st.valid_from,
                e.ts, st.first_event_id, st.n_events)
              st = RunState(userId, e.event_type, e.ts, e.event_id, 1L)
            }
          }
          if (st != null) state.update(st)
          closed.iterator
        })
  }

  final case class MomentState(event_type: String, n: Long, sum: Double, sumsq: Double)
  final case class Moments(event_type: String, n: Long, mean: Double, std: Double)

  /** Ingest-time twin of q180's distribution fit: per-type keyed
    * state carries (n, Σv, Σv²); each micro-batch folds its values in
    * and emits the CURRENT mean/std — the live parameters an online
    * anomaly monitor scores against, converging to the batch fit as
    * the stream drains. Accumulation order differs from the batch
    * ordered fold, so equality is to fp tolerance, not bit-exact —
    * the spec pins 1e-9 relative. State is one 3-number record per
    * event type (alphabet-bounded, no timeout needed). */
  def runningMoments(spark: SparkSession, events: DataFrame): Dataset[Moments] = {
    import spark.implicits._
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (etype: String, batch: Iterator[Event], state: GroupState[MomentState]) => {
          var st = state.getOption.getOrElse(MomentState(etype, 0L, 0.0, 0.0))
          batch.toSeq.sortBy(_.event_id).foreach { e =>
            st = MomentState(etype, st.n + 1, st.sum + e.value,
              st.sumsq + e.value * e.value)
          }
          state.update(st)
          val mean = st.sum / st.n
          val variance = math.max(st.sumsq / st.n - mean * mean, 0.0)
          Iterator.single(Moments(etype, st.n, mean, math.sqrt(variance)))
        })
  }

  /** [[readEvents]] paced to `filesPerTrigger` files per micro-batch —
    * the spec's lever for exercising MULTI-batch state evolution with
    * deterministic batch boundaries. */
  def readEventsPaced(spark: SparkSession, path: String, filesPerTrigger: Int): DataFrame = {
    val schema = probeSchema(spark, path)
    graft.Tables.normalizeEventsTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(path))
  }

  /** Hash buckets of [[upsertRunningState]]'s state table. */
  private[graft] val StateBuckets = 16

  /** Streaming upsert into the MERGE state table via foreachBatch —
    * the streaming form of the reference's KV writes (S6): each
    * micro-batch's per-user aggregates become a change set merged into
    * the persisted state (graft.state.StateStore pattern). The batch
    * lambda receives a normal DataFrame, so the exact batch-verified
    * MERGE code runs unchanged inside the stream.
    *
    * 100 TB shape (SURVEY §4): the state table is hash-partitioned on
    * the key into [[StateBuckets]] directories, and each micro-batch
    * rewrites ONLY the partitions containing changed keys (dynamic
    * partition overwrite) — never the whole table, never through one
    * task. Work per batch is O(touched partitions), independent of
    * total state size; the bucket count scales with key cardinality. */
  def upsertRunningState(spark: SparkSession, events: DataFrame, stateDir: String): Unit = {
    import graft.state.StateStore
    import org.apache.spark.sql.functions.{broadcast, col, hash, lit, max, pmod}
    val statePath = new org.apache.hadoop.fs.Path(stateDir)
    val q = runningCounts(spark, events).toDF()
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val incoming = batch
          .groupBy("user_id")
          .agg(max("n_events").as("n_events"), max("value_sum").as("value_sum"))
          .withColumn("bucket", pmod(hash(col("user_id")), lit(StateBuckets)))
        // only an absent state directory is empty state: an unreadable
        // one must fail the batch, not be rewritten from it alone
        val current =
          if (statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(statePath)) spark.read.parquet(stateDir)
          else incoming.limit(0)
        // merge only the touched buckets; localCheckpoint materializes
        // them so the dynamic overwrite below never reads its own output
        val touched = incoming.select("bucket").distinct()
        val currentTouched = current
          .join(broadcast(touched), Seq("bucket"), "left_semi")
          .localCheckpoint(true)
        val merged = StateStore.merge(currentTouched, incoming, Seq("bucket", "user_id"))
        // dynamic for this write only: the session's setting is the
        // caller's, and every other partitioned overwrite reads it
        merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket").parquet(stateDir)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Drive any of the above synchronously against a memory sink; used
    * by tests and local smoke (format("memory") + processAllAvailable). */
  def runToMemory(df: DataFrame, queryName: String, outputMode: String): Unit = {
    val q = df.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
