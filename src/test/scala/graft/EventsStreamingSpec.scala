package graft

import graft.streaming.EventsStreaming
import org.apache.spark.sql.functions._

/** Structured Streaming smoke against sf0.001 events via memory sink:
  * each streaming query must agree with its batch twin. */
class EventsStreamingSpec extends SparkSpecBase {

  // FileStreamSource needs a directory: stage the events file into one
  private lazy val path: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("tumbling window stream agrees with batch twin up to the watermark") {
    val stream = EventsStreaming.readEvents(spark, path)
    EventsStreaming.runToMemory(
      EventsStreaming.tumblingCounts(stream), "tumbling_out", "append")
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val batch = events
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
    // append mode only emits windows closed by the watermark
    // (watermark = max event time − 10 min); later windows are withheld.
    val closed = batch.filter(
      col("window.end") <= lit(new java.sql.Timestamp(maxTs.getTime - 10 * 60 * 1000)))
    val streamed = spark.table("tumbling_out")
    assert(streamed.count() >= closed.count())
    // every emitted group must carry exactly the batch count
    val mismatched = streamed.select(col("window"), col("event_type"), col("n").as("sn"))
      .join(batch, Seq("window", "event_type"), "left")
      .filter(col("n").isNull || col("n") =!= col("sn"))
    assert(mismatched.count() == 0)
  }

  test("stateful funnel stream over ts-ordered micro-batches equals the " +
      "q142 batch funnel exactly") {
    // two ts-split files, paced one per micro-batch: the state machine
    // must carry stage progress across the batch boundary
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel_stream").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("tsu", expr("unix_micros(ts)")).localCheckpoint()
    // split by EVENT TIME so the paced batches arrive in order — the
    // in-order assumption the state machine documents
    val midTs = ev.stat.approxQuantile("tsu", Array(0.5), 0.0).head.toLong
    def stageHalf(pred: org.apache.spark.sql.Column, name: String): Unit = {
      ev.filter(pred).drop("tsu").sort("ts")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/stage")
      val f = new java.io.File(s"$dir/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, java.nio.file.Paths.get(s"$dir/$name"))
    }
    // FileStreamSource breaks same-mtime ties by path: name the early
    // half so it also sorts first
    stageHalf(col("tsu") <= midTs, "a_early.parquet")
    stageHalf(col("tsu") > midTs, "b_late.parquet")
    val stream = EventsStreaming.readEventsPaced(spark, dir, 1)
    EventsStreaming.runToMemory(
      EventsStreaming.funnelStages(spark, stream).toDF(), "funnel_out", "append")
    // stages are monotone: the max emission per user is the final stage
    val finals = spark.sql(
      "SELECT user_id, max(stage) AS stage FROM funnel_out GROUP BY user_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batch = SparkEntry.queries("q142_event_funnel")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    val streamed = Map(
      1 -> finals.values.count(_ >= 1).toLong,
      2 -> finals.values.count(_ >= 2).toLong,
      3 -> finals.values.count(_ >= 3).toLong)
    assert(streamed == batch,
      s"funnel stages diverged: stream $streamed vs batch $batch")
    SparkEntry.releaseCaches(spark)
  }

  test("stateful interval stream's closed runs equal the q159 batch ledger exactly") {
    // same two-file ts-ordered pacing as the funnel twin: the OPEN run
    // must carry across the micro-batch boundary and close correctly
    // when a different event type arrives in the later batch
    val dir = java.nio.file.Files.createTempDirectory("graft_runs_stream").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("tsu", expr("unix_micros(ts)")).localCheckpoint()
    val midTs = ev.stat.approxQuantile("tsu", Array(0.5), 0.0).head.toLong
    def stageHalf(pred: org.apache.spark.sql.Column, name: String): Unit = {
      ev.filter(pred).drop("tsu").sort("ts")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/stage")
      val f = new java.io.File(s"$dir/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, java.nio.file.Paths.get(s"$dir/$name"))
    }
    stageHalf(col("tsu") <= midTs, "a_early.parquet")
    stageHalf(col("tsu") > midTs, "b_late.parquet")
    val stream = EventsStreaming.readEventsPaced(spark, dir, 1)
    EventsStreaming.runToMemory(
      EventsStreaming.intervalRuns(spark, stream).toDF(), "runs_out", "append")
    val streamed = spark.sql(
      """SELECT user_id, event_type, valid_from, valid_to, first_event_id, n_events
         FROM runs_out""").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getLong(4), r.getLong(5))).toSet
    val batch = SparkEntry.queries("q159_state_intervals")(spark, "/root/testdata/sf0.001")
      .filter(col("valid_to").isNotNull).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getTimestamp(3),
        r.getTimestamp(4), r.getLong(5), r.getLong(6))).toSet
    assert(streamed == batch,
      s"closed runs diverged: stream-only ${(streamed -- batch).take(3)}, " +
        s"batch-only ${(batch -- streamed).take(3)}")
    SparkEntry.releaseCaches(spark)
  }

  test("running-moments stream converges to the batch distribution fit per type") {
    val stream = EventsStreaming.readEvents(spark, path)
    EventsStreaming.runToMemory(
      EventsStreaming.runningMoments(spark, stream).toDF(), "moments_out", "append")
    // append emits one row per (type, microbatch); the row with the
    // max n per type is the final state
    val finals = spark.sql(
      """SELECT event_type, mean, std FROM (
           SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY n DESC) AS rk
           FROM moments_out) t WHERE rk = 1""")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val batch = SparkEntry.queries("q180_value_anomalies")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(finals.keySet == batch.keySet)
    finals.foreach { case (t, (m, sd)) =>
      val (bm, bsd) = batch(t)
      assert(math.abs(m - bm) <= 1e-4 + 1e-9 * math.abs(bm),
        s"mean diverged for $t: stream $m vs batch $bm")
      assert(math.abs(sd - bsd) <= 1e-4 + 1e-9 * math.abs(bsd),
        s"std diverged for $t: stream $sd vs batch $bsd")
    }
    SparkEntry.releaseCaches(spark)
  }

  test("streaming dedup keeps one row per (user, type)") {
    val stream = EventsStreaming.readEvents(spark, path)
    EventsStreaming.runToMemory(
      EventsStreaming.dedupFirstEvents(stream), "dedup_out", "append")
    val n = spark.sql("SELECT count(*) FROM dedup_out").head().getLong(0)
    val expected = Tables.events(spark, "/root/testdata/sf0.001")
      .select("user_id", "event_type").distinct().count()
    assert(n == expected)
  }

  test("flatMapGroupsWithState running counts cover every user") {
    val stream = EventsStreaming.readEvents(spark, path)
    EventsStreaming.runToMemory(
      EventsStreaming.runningCounts(spark, stream).toDF(), "running_out", "append")
    // append emits one row per (user, microbatch); the final state per
    // user must equal the batch per-user counts
    val finals = spark.sql(
      """SELECT user_id, max(n_events) AS n FROM running_out GROUP BY user_id""")
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(finals.join(batch, Seq("user_id"))
      .filter(finals("n") =!= batch("n")).count() == 0)
    assert(finals.count() == batch.count())
  }

  test("foreachBatch upserts running state into the MERGE table") {
    val stateDir = java.nio.file.Files.createTempDirectory("graft_state").toString + "/state"
    val stream = EventsStreaming.readEvents(spark, path)
    EventsStreaming.upsertRunningState(spark, stream, stateDir)
    val state = spark.read.parquet(stateDir)
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(state.count() == batch.count())
    assert(state.join(batch, Seq("user_id"))
      .filter(col("n_events") =!= col("n")).count() == 0)
  }

  test("upsertRunningState overwrites partitions dynamically for its own " +
      "writes only: the session's setting is unchanged") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_state").toString + "/state"
    spark.conf.set(key, "static")
    EventsStreaming.upsertRunningState(spark, EventsStreaming.readEvents(spark, path), stateDir)
    // a second run touching one bucket only leaves the other buckets
    // in place: the write overwrote its partitions, not the table
    EventsStreaming.upsertRunningState(spark, EventsStreaming.readEvents(spark, path)
      .filter(pmod(hash(col("user_id")), lit(EventsStreaming.StateBuckets)) === 0), stateDir)
    assert(spark.conf.get(key) == "static")
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val state = spark.read.parquet(stateDir)
    assert(state.select("bucket").distinct().count() > 1)
    assert(state.count() == batch.count())
    assert(state.join(batch, Seq("user_id"))
      .filter(col("n_events") =!= col("n")).count() == 0)
  }

  test("upsertRunningState fails a batch whose state it cannot read") {
    val stateDir = java.nio.file.Files.createTempDirectory("graft_state").toString + "/state"
    EventsStreaming.upsertRunningState(spark, EventsStreaming.readEvents(spark, path), stateDir)
    // every part file unreadable: only an ABSENT state directory may
    // read as empty state, or the next batch silently rewrites the
    // buckets it touches from its own rows alone
    val parts = java.nio.file.Files.walk(java.nio.file.Paths.get(stateDir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-"))
    assert(parts.nonEmpty)
    parts.foreach { p =>
      java.nio.file.Files.write(p, "not parquet".getBytes("UTF-8"))
      java.nio.file.Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventsStreaming.upsertRunningState(spark, EventsStreaming.readEvents(spark, path), stateDir)
    }
  }

  test("streaming reader is encoding-adaptive: int64-nanos fixture " +
      "streams identically to the micro-TIMESTAMP fixture") {
    // stage a nanos-encoded twin of the same events (the shape the
    // legacy nanosAsLong path lands TIMESTAMP(NANOS) data in) — both
    // encodings must stream to the same rows through readEvents
    val nanosDir = java.nio.file.Files.createTempDirectory("graft_events_nanos")
    Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts", expr("unix_micros(ts) * 1000L"))
      .coalesce(1).write.parquet(s"$nanosDir/events.parquet")
    // compare via the order-independent aggregate (window, type, n) —
    // dedupFirstEvents keeps an arbitrary row per key, so its pick
    // legitimately varies with file partitioning
    val a = EventsStreaming.readEvents(spark, path)
    EventsStreaming.runToMemory(
      EventsStreaming.tumblingCounts(a), "enc_micros_out", "append")
    val b = EventsStreaming.readEvents(spark, s"$nanosDir/events.parquet")
    EventsStreaming.runToMemory(
      EventsStreaming.tumblingCounts(b), "enc_nanos_out", "append")
    val xa = spark.table("enc_micros_out").select("window", "event_type", "n")
    val xb = spark.table("enc_nanos_out").select("window", "event_type", "n")
    assert(xa.exceptAll(xb).count() == 0 && xb.exceptAll(xa).count() == 0,
      "nanos-encoded stream diverged from the micro-TIMESTAMP stream")
  }

  test("stream can start before data arrives (empty source directory)") {
    // the standard deployment pattern: the consumer starts first, files
    // land later — schema probing must fall back, not fail setup
    val emptyDir = java.nio.file.Files.createTempDirectory("graft_events_empty")
    val stream = EventsStreaming.readEvents(spark, emptyDir.toString)
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType) // post-normalization
    // and it processes data that arrives after stream definition —
    // written in the current-generation physical encoding (ts NTZ
    // micros) the fallback schema declares
    Tables.events(spark, "/root/testdata/sf0.001").limit(100)
      .withColumn("ts", expr("cast(ts as timestamp_ntz)"))
      .coalesce(1).write.mode("append")
      .option("compression", "none").parquet(emptyDir.toString)
    EventsStreaming.runToMemory(
      stream.groupBy().count(), "late_data_out", "complete")
    assert(spark.table("late_data_out").head().getLong(0) == 100L)
  }

  test("session window stream runs with watermark (append mode)") {
    val stream = EventsStreaming.readEvents(spark, path)
    EventsStreaming.runToMemory(
      EventsStreaming.sessionCounts(stream), "session_out", "append")
    // append-mode emission needs the watermark to pass; with a single
    // finite batch only fully-closed sessions appear — assert the query
    // ran and produced a sane subset
    val n = spark.sql("SELECT count(*) FROM session_out").head().getLong(0)
    assert(n >= 0)
  }
}
