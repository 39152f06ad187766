package graft

import graft.operators.{DedupQueries, MultimodalQueries, ProductQuantization}
import graft.streaming.{AnnServeStream, DedupStream, MediaDedupStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** STREAMING THROUGHPUT (r18 verdict item 3): the streaming tier has
  * parity and restart-exactness proofs but no rows/s figure — and a
  * production admission pipeline is sized on rows/s and per-batch
  * latency, not on correctness proofs alone.
  *
  * Method: for each heavy stream, build its static side (band index /
  * fingerprint ledger / PQ index) from the scale point's corpus, then
  * drive the real Structured Streaming query (MemoryStream source →
  * the production wiring → memory/callback sink) with the arriving
  * rows split into fixed-size micro-batches, timing each
  * `processAllAvailable()` wall-to-wall — planner + exchange + sink
  * included, because that IS the latency an admission pipeline sees.
  * Batch 0 carries codegen/classload warm-up, so steady-state rows/s
  * is reported over batches 1.. (batch-0 latency still recorded).
  *
  * Streams priced (the three heavy ones; ChangeSetStream is the
  * reference's deliberately rate-limited serialization boundary — its
  * throughput is the configured rate limit, not a measurement):
  *  - dedup_minhash: per-row MinHash banding + stream-static band join
  *    ([[DedupStream.flagAgainstCorpus]]) against the full corpus index
  *  - dedup_simhash: per-row SimHash blocks + stream-static block join
  *    with inline Hamming verify ([[DedupStream.flagSimhashAgainstCorpus]])
  *  - media_dedup: binary decode → perceptual fingerprints → ledger
  *    probe + fold ([[MediaDedupStream.processBatch]] via foreachBatch,
  *    ledger persisted per batch — the exactly-once cost is IN the number)
  *  - ann_serve: edge quantization + ADC shortlist + exact re-rank
  *    ([[AnnServeStream.serveBatch]] via foreachBatch)
  *
  * Usage: runMain graft.StreamBench [sfDir] [outJson] [batchSize] [maxRows]
  * Defaults: /root/testdata/sf0.1 STREAMBENCH.json 2000 20000
  */
object StreamBench {

  final case class StreamRow(name: String, rows: Long, batches: Int,
      batchMs: Seq[Long], batchRows: Seq[Long], outRows: Long) {
    def steadyMs: Seq[Long] = if (batchMs.size > 1) batchMs.tail else batchMs
    // steady throughput over the ACTUAL row counts of the steady
    // batches (warm-up batch 0 excluded from BOTH numerator and
    // denominator; a short final batch counts its real size) — a mean
    // batch size against steady-only times misstates the figure
    // whenever rows % batchSize != 0 (ADVICE r19)
    def steadyRowsPerS: Double = {
      val steadyRows =
        (if (batchRows.size > 1) batchRows.tail else batchRows).sum
      val s = steadyMs.sum / 1000.0
      if (s > 0) steadyRows / s else 0.0
    }
  }

  /** Drive `mkQuery` (which must consume the returned MemoryStream's
    * DataFrame) with `data` in `batchSize` chunks; returns per-batch
    * wall latencies. `collectOut` counts sink rows for a sanity floor
    * (a stream that times fast because it emitted nothing is a bug,
    * not a result). */
  private def drive[A <: Product : org.apache.spark.sql.Encoder](
      spark: SparkSession, name: String, data: Seq[A], batchSize: Int,
      start: DataFrame => (org.apache.spark.sql.streaming.StreamingQuery, () => Long))
      : StreamRow = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[A]
    val (q, outCount) = start(mem.toDF())
    try {
      val batches = data.grouped(batchSize).toSeq
      val times = batches.map { b =>
        val t0 = System.nanoTime()
        mem.addData(b)
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1000000L
      }
      val row = StreamRow(name, data.size.toLong, batches.size, times,
        batches.map(_.size.toLong), outCount())
      System.err.println(f"[streambench] $name%-16s rows=${row.rows}%7d " +
        f"batches=${row.batches}%3d steady=${row.steadyRowsPerS}%10.1f rows/s " +
        f"batch_ms=[${times.mkString(" ")}] out=${row.outRows}")
      row
    } finally q.stop()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outJson = args.lift(1).getOrElse("STREAMBENCH.json")
    val batchSize = args.lift(2).map(_.toInt).getOrElse(2000)
    val maxRows = args.lift(3).map(_.toInt).getOrElse(20000)
    val spark = GraftSession.local(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = Tables.documents(spark, sfDir)
    // arriving docs: a deterministic maxRows-slice of the corpus (the
    // stream side carries only its own micro-batch, so slicing bounds
    // DRIVER memory for the MemoryStream source, not the work shape)
    val arrivingDocs = docs.select("doc_id", "text")
      .orderBy("doc_id").limit(maxRows)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val results = scala.collection.mutable.ArrayBuffer.empty[StreamRow]

    // ---- dedup_minhash: full-corpus band index, stream-static join
    val corpusBands = DedupQueries.bandKeys(
        DedupQueries.minhashFrom(DedupQueries.shingleSetsOf(
          docs.select("doc_id", "text")))).localCheckpoint()
    results += drive(spark, "dedup_minhash", arrivingDocs, batchSize, { df =>
      val stream = df.toDF("doc_id", "text")
      var n = 0L
      val q = DedupStream.flagAgainstCorpus(stream, corpusBands)
        .writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) => n += b.count() }
        .start()
      (q, () => n)
    })
    SparkEntry.releaseCaches(spark)

    // ---- dedup_simhash: block index + inline Hamming verify
    val corpusBlocks = DedupQueries.withBlockKeys(
        DedupQueries.simhashBlockFrame(docs.select("doc_id", "text")))
      .localCheckpoint()
    results += drive(spark, "dedup_simhash", arrivingDocs, batchSize, { df =>
      val stream = df.toDF("doc_id", "text")
      var n = 0L
      val q = DedupStream.flagSimhashAgainstCorpus(stream, corpusBlocks)
        .writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) => n += b.count() }
        .start()
      (q, () => n)
    })
    SparkEntry.releaseCaches(spark)

    // ---- media_dedup: decode + fingerprint + ledger probe/fold; the
    // per-batch ledger persistence is part of the priced path. Media
    // payloads are heavy (synth BMP/WAV) — quarter the row budget.
    val media = MultimodalQueries.imageCorpusWithTwins(docs)
      .unionByName(MultimodalQueries.audioCorpusWithTwins(docs))
      .orderBy("doc_id").limit(math.max(batchSize, maxRows / 4))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).toSeq
    val ledgerDir = java.nio.file.Files.createTempDirectory("graft-sb-ledger").toString
    val mediaCkpt = java.nio.file.Files.createTempDirectory("graft-sb-mckpt").toString
    results += drive(spark, "media_dedup", media, math.max(250, batchSize / 8), { df =>
      val stream = df.toDF("doc_id", "payload")
      var n = 0L
      val q = MediaDedupStream.startWithLedgerMaintenance(stream, ledgerDir,
        mediaCkpt) { (flags, _) => n += flags.count() }
      (q, () => n)
    })
    SparkEntry.releaseCaches(spark)

    // ---- ann_serve: PQ index once, raw query vectors stream through
    val idx = ProductQuantization.buildIndex(spark, sfDir)
    val queries = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .orderBy("vec_id").limit(maxRows / 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val annCkpt = java.nio.file.Files.createTempDirectory("graft-sb-ackpt").toString
    results += drive(spark, "ann_serve", queries, math.max(250, batchSize / 4), { df =>
      val stream = df.toDF("vec_id", "embedding")
      var n = 0L
      val q = AnnServeStream.start(stream, idx, annCkpt) { (res, _) => n += res.count() }
      (q, () => n)
    })
    SparkEntry.releaseCaches(spark)

    val fmt = (v: Double) =>
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val body = results.map { r =>
      val sorted = r.steadyMs.sorted
      val med = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      s""""${r.name}":{"rows":${r.rows},"batches":${r.batches},""" +
        s""""rows_per_s_steady":${fmt(r.steadyRowsPerS)},""" +
        s""""batch0_ms":${r.batchMs.head},"batch_ms_median":$med,""" +
        s""""batch_ms_max":${if (sorted.isEmpty) r.batchMs.head else sorted.last},""" +
        s""""out_rows":${r.outRows}}"""
    }.mkString(",")
    val line = s"""{"probe":"stream_bench","sf":"$sfDir","batch_size":$batchSize,$body}"""
    val w = new java.io.PrintWriter(outJson, "UTF-8")
    try w.println(line) finally w.close()
    println("STREAMBENCH " + line)
    spark.stop()
  }
}
