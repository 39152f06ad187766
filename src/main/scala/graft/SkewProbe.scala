package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.operators.{DedupQueries, SkewJoins}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-TRIPPING synthetic probe — the r16 verdict's item 4: the sf0.1
  * fixtures never drive either skew defense into its active regime
  * (max band population 20 < DefaultBandCap 64; no join key holds
  * enough bytes for AQE's skew split), so ClusterProbe recorded
  * `skewSplits=0` everywhere and the 100 TB skew story rested on plan
  * shape + q203's cap=4 fixture. This probe builds the hostile inputs
  * the fixtures lack and measures BEFORE/AFTER per-task distributions:
  *
  *   A. a boilerplate crowd (thousands of identical docs → every band
  *      hot at the PRODUCTION cap 64): uncapped LSH self-join pair
  *      count and per-task join-output rows vs the rep-star capped
  *      plan's — the m² → star fan-out bound, at the default cap, not
  *      the q203 fixture cap.
  *   B. a celebrity-key fact-fact join (one key = half the probe side):
  *      per-task shuffle-read distribution (1) plain sort-merge with
  *      AQE skew-join off — the pathology: one task reads the hot
  *      key's entire partition; (2) AQE skew-join ON with thresholds
  *      scaled to the synthetic bytes — `skewed=true` splits in the
  *      final adaptive plan, max task bounded; (3)
  *      [[SkewJoins.saltedEquiJoin]] with AQE off — the static remedy
  *      for when a single KEY (not partition) exceeds one task even
  *      after AQE, flat by construction.
  *
  * Emits one `SKEWPROBE` line per measurement and writes the full
  * record to SKEWPROBE.json (repo root) for BASELINE.md.
  */
object SkewProbe {

  /** Per-task shuffle-read record/byte collector. A run's "join stage"
    * is the stage with the largest total shuffle read — the reduce
    * side of the measured join (AQE may add coalesced stages; the
    * dominant reader is the one skew hits). */
  private final class TaskTap extends SparkListener {
    val rows = new ConcurrentLinkedQueue[(Int, Long, Long)]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null && m.shuffleReadMetrics.recordsRead > 0)
        rows.add((t.stageId, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.recordsRead))
    }
    def drainDominantStage(): Seq[(Long, Long)] = {
      val all = rows.asScala.toSeq
      rows.clear()
      if (all.isEmpty) Seq.empty
      else {
        val stage = all.groupBy(_._1).view.mapValues(_.map(_._2).sum)
          .maxBy(_._2)._1
        all.filter(_._1 == stage).map(t => (t._2, t._3))
      }
    }
  }

  private def dist(tasks: Seq[(Long, Long)]): Map[String, Long] = {
    if (tasks.isEmpty) return Map("tasks" -> 0L)
    val recs = tasks.map(_._2).sorted
    val bytes = tasks.map(_._1).sorted
    Map(
      "tasks" -> recs.size.toLong,
      "rec_max" -> recs.last, "rec_p50" -> recs(recs.size / 2),
      "rec_sum" -> recs.sum,
      "bytes_max" -> bytes.last, "bytes_p50" -> bytes(bytes.size / 2))
  }

  private def jsonOf(m: Map[String, Long]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")

  private def skewSplits(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan.toString
    // AQE marks the join node "skew=true" and the shuffle-read node
    // "skewed"; count both spellings
    plan.sliding("skew=true".length).count(_ == "skew=true") +
      plan.sliding("skewed".length).count(_ == "skewed")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(
        sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .appName("graft-skew-probe")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val tap = new TaskTap
    spark.sparkContext.addSparkListener(tap)
    val out = scala.collection.mutable.LinkedHashMap[String, String]()

    // the listener bus posts task-end events asynchronously; settle by
    // waiting for the tap's queue size to hold still (the bus exposes
    // no public drain hook)
    def settle(): Unit = {
      var prev = -1
      var cur = tap.rows.size()
      while (prev != cur) { Thread.sleep(300); prev = cur; cur = tap.rows.size() }
    }

    def measure(name: String, df: DataFrame,
        note: Map[String, Long] = Map.empty): Map[String, Long] = {
      // settle so an earlier run's stragglers don't bleed into this
      // run's dominant-stage pick
      settle()
      tap.drainDominantStage()
      val t0 = System.nanoTime()
      // NOT count(): a bare count lets Catalyst prune every non-key
      // column, so the payload never shuffles and the hot partition's
      // bytes vanish (first probe run measured 462 KB for 1M padded
      // rows). bit_xor(xxhash64(*)) forces full rows through the join.
      val agg = df.agg(count(lit(1)),
        bit_xor(xxhash64(df.columns.map(col): _*)))
      // collect(), not head(): head() runs a DERIVED limit(1) plan, so
      // this instance's AQE plan would never finalize and the skew
      // markers below would read from the un-adapted initial plan
      val n = agg.collect()(0).getLong(0)
      val ms = (System.nanoTime() - t0) / 1000000
      settle()
      // inspect the EXECUTED plan (the agg's — the input df's own
      // QueryExecution never ran, so its AQE plan is never finalized
      // and carries no skew markers)
      val d = dist(tap.drainDominantStage()) ++ note +
        ("out_rows" -> n) + ("ms" -> ms) +
        ("skew_splits" -> skewSplits(agg).toLong)
      out(name) = jsonOf(d)
      println(s"SKEWPROBE $name ${out(name)}")
      d
    }

    // ---- A: boilerplate crowd at the PRODUCTION cap --------------
    // 6,000 identical docs (every band hot: population 6000 >> 64) over
    // a 4,000-doc unique background. Uncapped: the crowd alone is
    // m(m-1)/2 ≈ 18M candidate rows from EVERY one of its band keys'
    // self-joins; capped: a star of m-1 pairs via the min-id rep.
    // sizes are env-scalable so a smoke run (ToolMainsSpec) can exercise
    // the full probe flow — both defenses still TRIP at the reduced
    // sizes; the committed SKEWPROBE.json always uses the defaults
    val crowdN = sys.env.getOrElse("SPARK_GRAFT_SKEW_CROWD", "6000").toLong
    val crowd = spark.range(crowdN).select(col("id").as("doc_id"),
      lit("the quick brown fox jumps over the lazy dog near the riverbank every misty morning").as("text"))
    val bg = spark.range(crowdN, crowdN + 4000L).select(col("id").as("doc_id"),
      concat_ws(" ", lit("unique background document"), col("id"),
        md5(col("id").cast("string")), md5((col("id") * 7).cast("string")),
        md5((col("id") * 13).cast("string"))).as("text"))
    val sigs = DedupQueries.minhashFrom(
      DedupQueries.shingleSetsOf(crowd.unionByName(bg))).localCheckpoint()
    val uncapped = measure("A_lsh_uncapped",
      DedupQueries.candidatePairsFrom(sigs, None))
    val capped = measure("A_lsh_capped_64",
      DedupQueries.candidatePairsFrom(sigs))
    require(capped("out_rows") < uncapped("out_rows") / 100,
      s"cap did not bound the crowd: ${capped("out_rows")} vs ${uncapped("out_rows")}")
    SparkEntry.releaseCaches(spark)

    // ---- B: celebrity-key fact-fact join -------------------------
    // probe side: 2M rows, half on key 0; build side: 100k keys × 2.
    // The payload must be INCOMPRESSIBLE (md5 chain, ~96 B/row) — a
    // constant pad lz4-compresses to nothing and the hot partition's
    // shuffle bytes never reach any skew threshold (first probe run:
    // 1M hot rows = 462 KB compressed).
    val probeRows = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "2000000").toLong
    // build-side key cardinality scales with the probe side: the salted
    // variant replicates the build side 16×, so at a reduced probe size
    // an unscaled build side would dominate per-task records and the
    // flatten require below would price replication, not the hot key
    val buildKeys = sys.env.getOrElse("SPARK_GRAFT_SKEW_KEYS", "100000").toLong
    val left = spark.range(probeRows).select(
      when(col("id") % 2 === 0, 0L).otherwise(col("id") % buildKeys).as("k"),
      col("id").as("v"),
      concat(md5(col("id").cast("string")),
        md5((col("id") * 31L).cast("string")),
        md5((col("id") * 131L).cast("string"))).as("pay"))
    val right = spark.range(buildKeys * 2).select(
      (col("id") % buildKeys).as("k2"), md5(col("id").cast("string")).as("s"))
    def joined = left.join(right, col("k") === col("k2"))

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val before = measure("B_join_skew_off", joined)

    // AQE skew split: thresholds scaled to the synthetic sizes (the
    // defaults are 256m advisory / 5× factor — production-sized; the
    // SPLIT MECHANISM is what's under test, not the default constants)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    val aqe = measure("B_join_aqe_skew", joined)
    require(aqe("skew_splits") > 0, "AQE skew split never fired")

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val salted = measure("B_join_salted_16",
      SkewJoins.saltedEquiJoin(left, right, col("k"), col("k2"),
        Seq(col("v")), buckets = 16),
      note = Map("salt_buckets" -> 16L))
    require(before("out_rows") == aqe("out_rows") &&
      before("out_rows") == salted("out_rows"), "join results diverge")
    require(salted("rec_max") < before("rec_max") / 4,
      s"salting did not flatten: ${salted("rec_max")} vs ${before("rec_max")}")

    val fw = new java.io.PrintWriter("SKEWPROBE.json", "UTF-8")
    try fw.println(out.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",\n", "}"))
    finally fw.close()
    println(s"SKEWPROBE verdict=OK file=SKEWPROBE.json")
    spark.stop()
  }
}
