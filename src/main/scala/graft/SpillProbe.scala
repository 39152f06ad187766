package graft

import java.security.MessageDigest

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Spill-pressure probe for the 100 TB posture (evidence recorded in
  * BASELINE.md): runs the shuffle-heavy dedup/simhash family under
  * whatever heap the JVM was given and reports, per query: wall time,
  * row count, an order-canonicalized md5 of the FULL result, and the
  * spill actually observed (TaskMetrics memory/disk spill bytes summed
  * over every task).
  *
  * Usage — two runs, diffed by hash:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.SpillProbe"                       # roomy: 16g
  *   SPARK_DRIVER_MEM=2g SPARK_GRAFT_CPUS=8 \
  *     SPARK_GRAFT_MEM_FRACTION=0.2 \
  *     sbt "runMain graft.SpillProbe"                       # constrained
  *
  * Identical hashes plus nonzero spill in the constrained run are the
  * claim being tested: the operator family COMPLETES and stays
  * bit-identical when execution memory is a small fraction of the
  * working set — the local-mode stand-in for a 100 TB executor that
  * must spill. (A family that OOMs or silently changes results under
  * pressure has no business in the 100 TB story.)
  */
object SpillProbe {

  /** The shuffle-heaviest LLM-pipeline queries: shingle explode + agg
    * (q36/q37), iterative co-partitioned RDD joins (q77), persisted
    * index build + probe (q102), block self-join + inline verify
    * (q113), plus the exact-dedup hash agg baseline (q35). */
  private val Targets = Seq(
    "q35_dedup_exact",
    "q36_dedup_minhash_lsh",
    "q37_dedup_jaccard_verify",
    "q77_dedup_clusters",
    "q102_incremental_dedup",
    "q113_simhash_hamming_pairs",
    "q122_shared_span_pairs",
    // round-13 continuation arrivals in the heavy tier: the IVF-PQ
    // serving path (pinned subvector/code blocks + probed ADC) and the
    // cross-modal CC ledger (three decode maps + pair joins + CC)
    "q130_ann_ivf_pq",
    "q136_media_dedup_clusters")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val memFraction = sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION", "0.6")
    val spark = GraftSession.local(32)
      .config("spark.memory.fraction", memFraction)
      .getOrCreate()
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    spark.sparkContext.setLogLevel("WARN")

    // task-level truth: spill bytes come off TaskMetrics, summed across
    // every task of every job a query runs (incl. the RDD rounds AQE
    // and plan-string audits never see)
    val memSpilled = new java.util.concurrent.atomic.AtomicLong(0L)
    val diskSpilled = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          memSpilled.addAndGet(m.memoryBytesSpilled)
          diskSpilled.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    println(s"SPILLPROBE sf=$sfDir cpus=$cpus heapMb=$heapMb memFraction=$memFraction")
    // focused subset for off-scale runs (comma-separated names or qNN
    // prefixes — the ClusterProbe convention); unset = the graded set
    val selected = sys.env.get("SPARK_GRAFT_SPILL_ONLY")
      .map(_.split(",").map(_.trim).toSet)
      .fold(Targets) { only =>
        val picked = Targets.filter(t =>
          only.contains(t) || only.contains(t.takeWhile(_ != '_')))
        require(picked.nonEmpty,
          s"SPARK_GRAFT_SPILL_ONLY=${only.mkString(",")} selected no targets")
        picked
      }
    selected.foreach { name =>
      memSpilled.set(0L); diskSpilled.set(0L)
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, sfDir).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      // order-canonicalized content hash: sorted row renderings, so the
      // roomy and constrained runs compare independent of task order
      val md = MessageDigest.getInstance("MD5")
      rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
      val hash = md.digest().map(b => f"$b%02x").mkString
      // drain straggler task-end events before reading the counters —
      // deterministic, unlike a fixed sleep. waitUntilEmpty throws
      // TimeoutException (10 s default) on a badly backlogged bus —
      // exactly the condition a constrained probe can create — so fall
      // back to the old settle-sleep rather than aborting the sweep
      try org.apache.spark.graftbridge.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      catch { case _: java.util.concurrent.TimeoutException => Thread.sleep(200) }
      println(f"SPILL $name%-28s sec=$sec%7.2f rows=${rows.length}%7d " +
        f"spillMemMB=${memSpilled.get / (1024 * 1024)}%6d " +
        f"spillDiskMB=${diskSpilled.get / (1024 * 1024)}%6d hash=$hash")
      SparkEntry.releaseCaches(spark)
      System.gc()
    }
    spark.stop()
  }
}
