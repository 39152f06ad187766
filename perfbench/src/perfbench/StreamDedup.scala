package perfbench

import graft.streaming.DedupStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.{DataFrame, SparkSession}
import perfbench.BenchMain.{OpOutcome, Opts, Workload, check, median}
import scala.collection.mutable

/** `stream_dedup`: seeded arriving documents, with planted exact and
  * near copies, fed in fixed-size micro-batches through a
  * `MemoryStream` into `DedupStream.startWithIndexMaintenance`. The
  * probe index is first built from a seed corpus during set-up, then
  * grows with every batch's survivors.
  *
  * A run feeds every arrival, in whole rounds, whatever the time: the
  * index grows with each batch, so a run that fed more batches would
  * measure a larger index. Inputs (`corpus.parquet`,
  * `arrivals.parquet`) are written by the benchmark's table generator
  * under `<work>/stream`; their sizes are whole multiples of a batch
  * and of a round. */
final class StreamDedup(spark: SparkSession, o: Opts) extends Workload {
  import spark.implicits._

  /** the micro-batch size of the committed sf0.1 StreamBench run */
  private val BatchDocs = 500
  private val dir = s"${o.work}/stream"

  private var mem: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private var indexPath = ""
  /** doc ids whose bands the index holds (survivors so far) */
  private val admitted = mutable.Set.empty[Long]
  private val flagsByBatch = mutable.Map.empty[Long, Set[(Long, Long)]]
  @volatile private var sinkIn = 0L
  @volatile private var sinkOut = 0L
  private val planMs = mutable.Map.empty[Long, Double]
  private val layer = mutable.Map.empty[String, mutable.Buffer[Double]]
  private def record(k: String, v: Double): Unit =
    layer.getOrElseUpdate(k, mutable.Buffer.empty) += v

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      planMs.synchronized {
        Option(e.progress.durationMs.get("queryPlanning")).foreach(v =>
          planMs(e.progress.batchId) = v.doubleValue)
      }
  }
  if (o.trace) spark.streams.addListener(listener)

  private def sink(flags: DataFrame, batchId: Long): Unit = {
    sinkIn = System.nanoTime()
    val got = Trace.span("streaming.sink")(
      flags.select("doc_id", "dup_of").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    flagsByBatch.synchronized(flagsByBatch(batchId) = got)
    sinkOut = System.nanoTime()
  }

  private var batchId = -1L

  /** Feed one micro-batch, wait for it, and check its flags. */
  private def feed(docs: Seq[(Long, String)], planted: Set[Long]): Unit = {
    batchId += 1
    val t = System.nanoTime()
    Trace.span("streaming.batch") {
      mem.addData(docs: _*)
      query.processAllAvailable()
    }
    val done = System.nanoTime()
    if (o.trace) {
      record("streaming.fold_ms", (sinkIn - t) / 1e6)
      record("streaming.sink_ms", (sinkOut - sinkIn) / 1e6)
      record("streaming.commit_ms", (done - sinkOut) / 1e6)
      record("state.index_kb", BenchMain.du(indexPath)._1 / 1024.0)
    }
    BenchMain.untimed(checkBatch(docs, planted))
  }

  private def checkBatch(docs: Seq[(Long, String)], planted: Set[Long]): Unit = {
    val flags = flagsByBatch.synchronized(flagsByBatch.getOrElse(batchId, Set.empty))
    val ids = docs.map(_._1).toSet
    val flagged = flags.map(_._1)
    check(flagged.subsetOf(ids), s"batch $batchId: flags name docs outside the batch")
    flags.foreach { case (d, of) =>
      check(admitted(of) || (ids(of) && of < d),
        s"batch $batchId: doc $d flagged against $of, neither admitted earlier nor a lower id in the batch")
    }
    planted.foreach(d => check(flagged(d), s"batch $batchId: planted exact copy $d not flagged"))
    admitted ++= ids -- flagged
  }

  private var corpus: Array[(Long, String)] = _
  private var arrivals: Array[(Long, String, String)] = _

  /** Load the generated inputs into the driver. */
  override def setup(rep: Int): Unit = {
    corpus = spark.read.parquet(s"$dir/corpus.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    arrivals = spark.read.parquet(s"$dir/arrivals.parquet")
      .select("doc_id", "text", "planted").as[(Long, String, String)].collect().sortBy(_._1)
    require(corpus.length % BatchDocs == 0 && arrivals.length % (BatchDocs * roundSize) == 0,
      s"${corpus.length} corpus docs and ${arrivals.length} arrivals are not whole batches and rounds")
  }

  /** Start the stream and build the probe index from the seed corpus. */
  override def warmUp(): Unit = {
    BenchMain.deleteTree(s"$dir/run")
    indexPath = s"$dir/run/index"
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    mem = MemoryStream[(Long, String)]
    query = Trace.span("streaming.start")(DedupStream.startWithIndexMaintenance(
      mem.toDF().toDF("doc_id", "text"), indexPath, s"$dir/run/checkpoint", sink))
    corpus.grouped(BatchDocs).foreach(b => feed(b.toSeq, Set.empty))
    layer.clear()
  }

  /** Eight batches: the index folds every eighth delta into its base,
    * so each round holds the same mix of delta and compaction batches. */
  override def roundSize: Int = 8
  override def maxRounds: Int = arrivals.length / (BatchDocs * roundSize)

  override def op(i: Int): OpOutcome = {
    val from = i * BatchDocs
    val b = arrivals.slice(from, from + BatchDocs)
    feed(b.map(a => (a._1, a._2)).toSeq, b.filter(_._3 == "exact").map(_._1).toSet)
    BenchMain.sampleHeap()
    OpOutcome(b.length, failed = false)
  }

  override def finish(): Unit = {
    val index = Trace.span("state.load_index")(DedupStream.loadIndex(spark, indexPath))
      .groupBy("doc_id").count().as[(Long, Long)].collect()
    val held = index.map(_._1).toSet
    check(held == admitted.toSet,
      s"index holds ${held.size} docs, ${admitted.size} survivors " +
        s"(${(held -- admitted).size} not admitted, ${(admitted -- held).size} missing)")
    check(index.map(_._2).distinct.length == 1,
      s"index docs hold different band counts: ${index.map(_._2).distinct.sorted.mkString(",")}")
  }

  override def layerMetrics: Map[String, Double] = {
    val plans = planMs.synchronized(planMs.toMap)
    layer.map { case (k, vs) => k -> median(vs.toSeq) }.toMap +
      ("streaming.plan_ms" -> median(plans.collect {
        case (b, v) if b >= corpus.length / BatchDocs => v
      }.toSeq))
  }

  override def close(): Unit = {
    if (query != null) { query.stop(); query.awaitTermination(30000) }
    spark.streams.removeListener(listener)
  }
}
