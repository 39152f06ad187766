package graft
import graft.operators.MultimodalQueries
import graft.streaming.MediaDedupStream
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.collection.concurrent.TrieMap

/** Per-stage profile of [[MediaDedupStream]] (r20/r21 verdict item,
  * deferred twice): drives MemoryStream media micro-batches through
  * `startWithLedgerMaintenance` with a job/stage listener attached and
  * writes MEDIASTREAM_PROBE.json — per batch: wall ms, per-job wall +
  * task time + description, and the stage task-time total, so the
  * batch cost decomposes into decode/probe/fold/ledger-io instead of
  * one opaque number. Usage:
  *   runMain graft.MediaStreamProbe [sfDir] [outJson] [batchSize] [maxRows]
  */
object MediaStreamProbe {

  final case class JobRec(jobId: Int, wallMs: Double, desc: String,
      stageTaskMs: Long, stages: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outJson = args.lift(1).getOrElse("MEDIASTREAM_PROBE.json")
    val batchSize = args.lift(2).map(_.toInt).getOrElse(250)
    val maxRows = args.lift(3).map(_.toInt).getOrElse(2000)
    val spark = GraftSession.local(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val jobStart = TrieMap.empty[Int, (Long, String)]
    val stageAgg = TrieMap.empty[Int, (Long, Int)] // per live window
    val jobs = new scala.collection.mutable.ArrayBuffer[JobRec]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobStart(js.jobId) = (System.nanoTime(), desc.take(100))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val task = si.taskMetrics.executorRunTime
        stageAgg.updateWith(0) {
          case Some((t, n)) => Some((t + task, n + 1))
          case None => Some((task, 1))
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        jobStart.remove(je.jobId).foreach { case (t0, desc) =>
          val (taskMs, nStages) = stageAgg.remove(0).getOrElse((0L, 0))
          jobs.synchronized {
            jobs += JobRec(je.jobId, (System.nanoTime() - t0) / 1e6, desc,
              taskMs, nStages)
          }
        }
      }
    })

    val docs = Tables.documents(spark, sfDir)
    val media = MultimodalQueries.imageCorpusWithTwins(docs)
      .unionByName(MultimodalQueries.audioCorpusWithTwins(docs))
      .orderBy("doc_id").limit(maxRows)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).toSeq
    val ledgerDir = java.nio.file.Files.createTempDirectory("graft-msp-ledger").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-msp-ckpt").toString

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte])]
    var outRows = 0L
    val q = MediaDedupStream.startWithLedgerMaintenance(
      mem.toDF().toDF("doc_id", "payload"), ledgerDir, ckpt) { (flags, _) =>
      outRows += flags.count()
    }
    val fmt = (v: Double) =>
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val batchJson = new scala.collection.mutable.ArrayBuffer[String]
    try {
      media.grouped(batchSize).zipWithIndex.foreach { case (b, bi) =>
        jobs.synchronized(jobs.clear())
        val t0 = System.nanoTime()
        mem.addData(b)
        q.processAllAvailable()
        val wall = (System.nanoTime() - t0) / 1e6
        org.apache.spark.graftbridge.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
        val js = jobs.synchronized(jobs.toVector)
        val tracked = js.map(_.wallMs).sum
        System.err.println(f"[mediastream] batch $bi%2d rows=${b.size}%5d " +
          f"wall=${wall}%8.1f ms  jobs=${js.size}%2d tracked=${tracked}%8.1f ms " +
          f"untracked=${wall - tracked}%7.1f ms")
        js.foreach { j =>
          System.err.println(f"    job ${j.jobId}%4d ${j.wallMs}%8.1f ms " +
            f"task=${j.stageTaskMs}%6d ms stages=${j.stages}%2d  ${j.desc}")
        }
        batchJson += s"""{"batch":$bi,"rows":${b.size},"wall_ms":${fmt(wall)},""" +
          s""""jobs":[${js.map(j =>
            s"""{"wall_ms":${fmt(j.wallMs)},"task_ms":${j.stageTaskMs},"stages":${j.stages}}""")
            .mkString(",")}],""" +
          s""""tracked_ms":${fmt(tracked)},"untracked_ms":${fmt(wall - tracked)}}"""
      }
    } finally q.stop()
    val line = s"""{"probe":"media_stream","sf":"$sfDir","batch_size":$batchSize,""" +
      s""""rows":${media.size},"out_rows":$outRows,"batches":[${batchJson.mkString(",")}]}"""
    val w = new java.io.PrintWriter(outJson, "UTF-8")
    try w.println(line) finally w.close()
    println("MEDIASTREAM " + line)
    spark.stop()
  }
}
