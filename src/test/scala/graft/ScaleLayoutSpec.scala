package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.operators.SkewJoins
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Physical-layout levers for the 100 TB posture: bucketed co-located
  * joins (no exchange), deterministic salted skew joins, and format
  * round-trips (csv/json source breadth beyond parquet). */
class ScaleLayoutSpec extends SparkSpecBase {
  import spark.implicits._

  test("bucketed tables join without an exchange (co-located SMJ)") {
    // warehouse dir is a temp dir set at session creation (static conf)
    val sf = "/root/testdata/sf0.001"
    Tables.orders(spark, sf).write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.lineitem(spark, sf).write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("b_orders")
        .join(spark.table("b_lineitem"), $"o_orderkey" === $"l_orderkey")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan) // co-located: zero shuffle
      val expected = Tables.orders(spark, sf)
        .join(Tables.lineitem(spark, sf), $"o_orderkey" === $"l_orderkey").count()
      assert(j.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("salted skew join equals the plain join on a hot-key dataset") {
    // 10k rows all sharing one hot key + a long tail
    val skewed = spark.range(10000).select(
      when($"id" < 9000, lit(7L)).otherwise($"id").as("k"),
      $"id".as("payload"))
    val dim = spark.range(100).select($"id".as("dk"), ($"id" * 10).as("dv"))
    val plain = skewed.join(dim, $"k" === $"dk").agg(
      count(lit(1)), sum($"payload" + $"dv")).head()
    val salted = SkewJoins.saltedEquiJoin(skewed, dim, $"k", $"dk", Seq($"payload"), buckets = 8)
      .agg(count(lit(1)), sum($"payload" + $"dv")).head()
    assert(plain == salted)
    // outer variant keeps unmatched left rows exactly once
    val plainLeft = skewed.join(dim, $"k" === $"dk", "left").count()
    val saltedLeft = SkewJoins.saltedEquiJoin(skewed, dim, $"k", $"dk", Seq($"payload"), 8, "left").count()
    assert(plainLeft == saltedLeft)

    // salting flattens the hot key: with broadcast and AQE's own skew
    // split off (and no coalescing to merge the reduce tasks back), the
    // salted join's largest reduce task reads a fraction of the plain
    // join's, whose one task reads the hot key's 9,000 rows
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "32")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val plainMax = maxTaskShuffleRecords(
        skewed.join(dim, $"k" === $"dk").agg(count(lit(1))).collect())
      val saltedMax = maxTaskShuffleRecords(
        SkewJoins.saltedEquiJoin(skewed, dim, $"k", $"dk", Seq($"payload"), buckets = 16)
          .agg(count(lit(1))).collect())
      info(s"largest reduce task: plain $plainMax, salted $saltedMax records")
      assert(plainMax >= 9000, s"the plain join's largest task read $plainMax records")
      assert(saltedMax * 4 < plainMax,
        s"salting did not flatten the hot key: $saltedMax vs $plainMax records")
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The most shuffle records one task read in the stage of `body` that
    * read the most (a join's reduce stage). */
  private def maxTaskShuffleRecords(body: => Unit): Long = {
    val reads = new ConcurrentLinkedQueue[(Int, Long)]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          reads.add(e.stageId -> m.shuffleReadMetrics.recordsRead))
    }
    ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    reads.asScala.toSeq.groupMap(_._1)(_._2).values.maxBy(_.sum).max
  }

  test("partitioned writes prune partitions at read time") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("day", to_date($"ts"))
      .write.partitionBy("day").mode("overwrite").parquet(s"$tmp/events_by_day")
    val read = spark.read.parquet(s"$tmp/events_by_day")
      .filter($"day" === "2024-01-03")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("2024-01-03") || plan.contains("19725"), plan)
    val expected = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(to_date($"ts") === "2024-01-03").count()
    assert(read.count() == expected)
  }

  test("csv and json round-trips preserve the orders table") {
    val sf = "/root/testdata/sf0.001"
    val orders = Tables.orders(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_fmt").toString

    orders.write.mode("overwrite").option("header", "true").csv(s"$tmp/orders_csv")
    val csvBack = spark.read.option("header", "true").schema(orders.schema)
      .csv(s"$tmp/orders_csv")
    assert(csvBack.exceptAll(orders).count() == 0)
    assert(orders.exceptAll(csvBack).count() == 0)

    orders.write.mode("overwrite").json(s"$tmp/orders_json")
    val jsonBack = spark.read.schema(orders.schema).json(s"$tmp/orders_json")
    assert(jsonBack.exceptAll(orders).count() == 0)
    assert(orders.exceptAll(jsonBack).count() == 0)

    orders.write.mode("overwrite").orc(s"$tmp/orders_orc")
    val orcBack = spark.read.schema(orders.schema).orc(s"$tmp/orders_orc")
    assert(orcBack.exceptAll(orders).count() == 0)
    assert(orders.exceptAll(orcBack).count() == 0)
  }

  test("repartitionByRange + sortWithinPartitions yields totally-ordered layout") {
    // the write-side layout for time/key-ordered corpora: range
    // partition so file k's keys all precede file k+1's, sort within
    // partitions so each file is internally ordered — global order
    // without a single-partition sort
    val sf = "/root/testdata/sf0.001"
    val df = Tables.orders(spark, sf)
      .repartitionByRange(4, $"o_orderkey")
      .sortWithinPartitions($"o_orderkey")
    assert(df.queryExecution.executedPlan.toString.contains("rangepartitioning"),
      df.queryExecution.executedPlan.toString)
    // partition boundaries are disjoint and ordered
    val perPart = df.select($"o_orderkey")
      .mapPartitions { it => val s = it.map(_.getLong(0)).toSeq
        if (s.isEmpty) Iterator.empty
        else Iterator((s.min, s.max, s.sameElements(s.sorted))) }
      .collect().sortBy(_._1)
    assert(perPart.forall(_._3), "a partition was not internally sorted")
    assert(perPart.zip(perPart.tail).forall { case ((_, hi, _), (lo, _, _)) => hi < lo },
      perPart.mkString(","))
  }

  test("z-order clustering tightens per-file min/max on BOTH dimensions " +
      "(the footer-stats pruning a single-column sort cannot give)") {
    import graft.operators.ZOrder
    val sf = "/root/testdata/sf0.01"
    val src = Tables.lineitem(spark, sf).select("l_partkey", "l_suppkey")
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    try {
      val parts = 4
      src.repartition(parts).write.parquet(s"$dir/plain")
      ZOrder.cluster(src, "l_partkey", "l_suppkey", parts)
        .write.parquet(s"$dir/zorder")

      // per-file normalized (max-min) range, summed over files and both
      // dimensions: a random layout spans ~the full range of both keys
      // in every file; a z-ordered layout boxes each file into a
      // compact 2-D tile, so footer min/max can actually skip
      def spread(path: String): Double = {
        val files = new java.io.File(path).listFiles()
          .filter(_.getName.startsWith("part-")).map(_.getAbsolutePath)
        val (gMin, gMax) = {
          val r = src.agg(min("l_partkey"), max("l_partkey"),
            min("l_suppkey"), max("l_suppkey")).head()
          ((r.getLong(0), r.getLong(2)), (r.getLong(1), r.getLong(3)))
        }
        files.map { f =>
          val r = spark.read.parquet(f).agg(
            min("l_partkey"), max("l_partkey"),
            min("l_suppkey"), max("l_suppkey")).head()
          (r.getLong(1) - r.getLong(0)).toDouble / math.max(1L, gMax._1 - gMin._1) +
            (r.getLong(3) - r.getLong(2)).toDouble / math.max(1L, gMax._2 - gMin._2)
        }.sum
      }
      val plain = spread(s"$dir/plain")
      val z = spread(s"$dir/zorder")
      assert(z < 0.75 * plain,
        s"z-ordered layout should tighten per-file ranges: z=$z plain=$plain")
      // and the clustering is lossless
      assert(spark.read.parquet(s"$dir/zorder").count() == src.count())
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("z-order + manifest closes the loop: a 2-D box scan READS fewer " +
      "files than the unclustered layout (scan numFiles metric)") {
    import graft.operators.ZOrder
    import org.apache.spark.sql.execution.FileSourceScanExec
    val sf = "/root/testdata/sf0.01"
    val src = Tables.lineitem(spark, sf).select("l_partkey", "l_suppkey", "l_quantity")
    val dir = java.nio.file.Files.createTempDirectory("graft_zprune").toString
    try {
      val parts = 16
      ZOrder.writeClustered(src, s"$dir/z", "l_partkey", "l_suppkey", parts)
      src.repartition(parts).write.parquet(s"$dir/plain")
      val mx = src.agg(max("l_partkey"), max("l_suppkey")).head()
      val (pHi, sHi) = (mx.getLong(0) / 4, mx.getLong(1) / 4)

      // collect() (not count()) so the metrics read off the SAME
      // execution: count() plans its own aggregate and the df's scan
      // node would never run
      def filesRead(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val n = df.collect().length.toLong
        val files = df.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec => f.metrics("numFiles").value
        }.sum
        (n, files)
      }
      val (prunedRows, prunedFiles) = filesRead(
        ZOrder.readBox(spark, s"$dir/z", "l_partkey", "l_suppkey", 1, pHi, 1, sHi))
      val (plainRows, plainFiles) = filesRead(
        spark.read.parquet(s"$dir/plain")
          .filter($"l_partkey".between(1, pHi) && $"l_suppkey".between(1, sHi)))

      assert(plainFiles == parts, s"plain layout should read every file, read $plainFiles")
      // a 1/16-area box over a 16-file z-layout touches a compact tile
      // set; strictly-fewer is the contract, half is the measured slack
      assert(prunedFiles <= parts / 2,
        s"manifest pruning read $prunedFiles of $parts files")
      assert(prunedRows == plainRows) // pruning is exact, never lossy
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("q105 as declared prunes its layout: the query's own scan reads " +
      "fewer files than the clustered layout holds") {
    // The plan snapshot normalizes InMemoryFileIndex file counts (they
    // vary with writer parallelism), so loss of pruning would no longer
    // diff there — this pins the BEHAVIOR on the declared query itself
    // (r12 ADVICE): q105 writes a 16-file z-layout and its quarter-range
    // box must open a strict subset of those files.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // q105 aggregates, so AQE wraps its scan inside query stages —
    // leaf nodes to a plain collect; recurse through them
    def scanFiles(p: SparkPlan): Seq[Long] = p.collect {
      case f: FileSourceScanExec => Seq(f.metrics("numFiles").value)
      case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
      case q: QueryStageExec => scanFiles(q.plan)
    }.flatten
    try {
      val df = SparkEntry.queries("q105_zorder_pruned_scan")(spark, "/root/testdata/sf0.001")
      assert(df.collect().nonEmpty)
      val scans = scanFiles(df.queryExecution.executedPlan)
      assert(scans.nonEmpty, "q105 plan has no file scan to measure")
      val filesRead = scans.sum
      assert(filesRead > 0 && filesRead <= 8,
        s"q105 read $filesRead files of its 16-file layout — pruning lost")
    } finally SparkEntry.releaseCaches(spark)
  }

  test("readBox on a FRESH layout returns a proven-empty relation for a " +
      "disjoint box (numFiles == 0), and still scans when the manifest is stale") {
    import graft.operators.ZOrder
    import org.apache.spark.sql.execution.FileSourceScanExec
    val sf = "/root/testdata/sf0.001"
    val src = Tables.lineitem(spark, sf).select("l_partkey", "l_suppkey", "l_quantity")
    val dir = java.nio.file.Files.createTempDirectory("graft_zfresh").toString
    try {
      ZOrder.writeClustered(src, s"$dir/z", "l_partkey", "l_suppkey", 4)
      val mx = src.agg(max("l_partkey"), max("l_suppkey")).head()
      // a box strictly beyond both key ranges: intersects nothing
      def disjointBox() = ZOrder.readBox(spark, s"$dir/z",
        "l_partkey", "l_suppkey", mx.getLong(0) + 10, mx.getLong(0) + 20,
        mx.getLong(1) + 10, mx.getLong(1) + 20)
      val fresh = disjointBox()
      assert(fresh.count() == 0)
      val freshFiles = fresh.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f.metrics("numFiles").value
      }.sum
      assert(freshFiles == 0,
        s"fresh-manifest empty box opened $freshFiles files instead of 0")

      // staleness guard: a data file the manifest doesn't know about
      // forces the full-path fallback — rows appear even though the
      // manifest says the box is empty
      src.limit(50)
        .withColumn("l_partkey", lit(mx.getLong(0) + 15))
        .withColumn("l_suppkey", lit(mx.getLong(1) + 15))
        .write.mode("append").parquet(s"$dir/z")
      spark.catalog.refreshByPath(s"$dir/z")
      val stale = disjointBox()
      assert(stale.count() > 0, "stale manifest hid freshly-appended rows")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("orc scans push filters and prune columns like parquet") {
    val sf = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc").toString
    Tables.lineitem(spark, sf).write.mode("overwrite").orc(s"$tmp/li_orc")
    val read = spark.read.orc(s"$tmp/li_orc")
      .filter($"l_quantity" > 45.0).select("l_orderkey", "l_quantity")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan)
    val rs = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.contains("l_orderkey") && !rs.contains("l_extendedprice"), rs)
    assert(read.count() ==
      Tables.lineitem(spark, sf).filter($"l_quantity" > 45.0).count())
  }
}
