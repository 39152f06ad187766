package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.graftbridge.ListenerBridge.waitUntilListenerBusEmpty
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in one JVM: start the session, set the workload
  * up (several times, the median is reported), then run its
  * operations closed-loop, whole rounds at a time, until `--seconds`
  * have passed and the workload's fewest rounds are done, or its most
  * rounds are done. Writes the run's result as JSON to `--out`.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1
  *            --work DIR --out FILE [--gen-seconds X]
  */
object BenchMain {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, out: String, genSeconds: Double)

  final case class OpOutcome(items: Int, failed: Boolean)

  /** A workload as the harness drives it. Set-up repetitions start
    * from scratch; the last one is the state the operations run on.
    * The warm-up runs once, after them. */
  trait Workload {
    def setupReps: Int = 3
    def setup(rep: Int): Unit
    def warmUp(): Unit = ()
    def roundSize: Int
    /** most rounds one run attempts, for workloads whose state grows
      * with every round: their work per run is then fixed */
    def maxRounds: Int = Int.MaxValue
    /** fewest rounds one run attempts, whatever `--seconds` says */
    def minRounds: Int = 1
    def op(i: Int): OpOutcome
    /** traced runs: extra per-layer measurements of operation `i`,
      * taken after its counters, outside its latency */
    def traceAfter(i: Int): Unit = ()
    /** checks that need the whole run (after the last operation) */
    def finish(): Unit = ()
    /** per-layer metrics beyond the Spark counters (traced runs) */
    def layerMetrics: Map[String, Double] = Map.empty
    def close(): Unit = ()
  }

  /** Correctness failures found by the checks; any makes the run
    * incorrect. */
  val errors: mutable.Buffer[String] = mutable.Buffer.empty[String]
  def check(ok: Boolean, msg: => String): Unit =
    if (!ok && errors.size < 50) errors += msg

  private var pauseNs = 0L
  private var liveHeapMb = 0.0

  /** Runs `body` inside an operation without counting its time in the
    * operation's latency: checks, input generation, heap samples. */
  def untimed[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally pauseNs += System.nanoTime() - t
  }

  /** Traced runs: full GC, then the heap still in use (untimed). */
  def sampleHeap(): Unit = if (Trace.on) untimed {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    liveHeapMb = math.max(liveHeapMb, used / 1048576.0)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Bytes and regular files under `dir`. */
  def du(dir: String): (Long, Int) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new File(dir)).filter(_.isFile)
    (fs.map(_.length).sum, fs.size)
  }

  def deleteTree(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("out"), m.get("gen-seconds").map(_.toDouble).getOrElse(0.0))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    Trace.on = o.trace
    val counters = new SparkCounters
    if (o.trace) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    val w: Workload = o.workload match {
      case "etl_migrate" => new EtlWorkloads.Migrate(spark, o)
      case "stream_dedup" => new StreamDedup(spark, o)
      case "query_battery" => new QueryBattery(spark, o)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      val setups = (0 until w.setupReps).map { rep =>
        val t = System.nanoTime()
        w.setup(rep)
        (System.nanoTime() - t) / 1e9
      }
      val tWarm = System.nanoTime()
      w.warmUp()
      val warmS = (System.nanoTime() - tWarm) / 1e9
      liveHeapMb = 0.0

      val lat = mutable.ArrayBuffer.empty[Double]
      val spark0 = mutable.ArrayBuffer.empty[Vector[Double]]
      val gaps = mutable.ArrayBuffer.empty[Double]
      var items = 0L; var failed = 0
      val start = System.nanoTime()
      var i = 0
      while (i % w.roundSize != 0 || i / w.roundSize < w.minRounds ||
          (i / w.roundSize < w.maxRounds && System.nanoTime() - start < o.seconds * 1000000000L)) {
        Trace.op = i
        if (o.trace) waitUntilListenerBusEmpty(spark.sparkContext)
        val before = counters.snapshot
        val wall0 = System.currentTimeMillis()
        pauseNs = 0L
        val t = System.nanoTime()
        val r = Trace.span("bench.op")(w.op(i))
        val ns = System.nanoTime() - t - pauseNs
        lat += ns / 1e6
        items += r.items
        if (r.failed) failed += 1
        if (o.trace) {
          val wall1 = System.currentTimeMillis()
          waitUntilListenerBusEmpty(spark.sparkContext)
          spark0 += counters.snapshot.zip(before).map { case (a, b) => a - b }
          gaps += counters.gapMs(wall0, wall1) - pauseNs / 1e6
          w.traceAfter(i)
        }
        i += 1
      }
      Trace.op = -1
      w.finish()

      // the median round: each position's median latency over the rounds
      val roundMs = (0 until w.roundSize).map(p =>
        median(lat.indices.filter(_ % w.roundSize == p).map(lat))).sum
      val endToEnd = Map(
        "setup_s" -> (sessionS + o.genSeconds + median(setups) + warmS),
        "items_per_s" -> (items.toDouble / (i / w.roundSize)) / (roundMs / 1000.0),
        "op_p50_ms" -> median(lat.toSeq))
      val layers: Map[String, Double] =
        if (!o.trace) Map.empty
        else {
          val perOp = SparkCounters.Names.indices.map(k =>
            SparkCounters.Names(k) -> median(spark0.map(_(k)).toSeq)).toMap
          perOp ++ Map("spark.driver_gap_ms" -> median(gaps.toSeq),
            "trace.op_p50_ms" -> median(lat.toSeq), "jvm.live_heap_mb" -> liveHeapMb) ++
            w.layerMetrics ++
            Trace.layerSelfMs.map { case (l, ms) => s"self.$l" -> ms / i }
        }
      if (o.trace) Trace.writeJson(s"${o.work}/spans.json")
      writeResult(o, i, failed, endToEnd, layers, setups :+ warmS, lat.toSeq)
    } finally {
      w.close()
      spark.stop()
    }
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  private def writeResult(o: Opts, attempted: Int, failed: Int,
      e2e: Map[String, Double], layers: Map[String, Double], setups: Seq[Double],
      opMs: Seq[Double]): Unit = {
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")
    val errs = errors.map(e => "\"" + e.replace("\\", "\\\\").replace("\"", "'")
      .replace("\n", " ") + "\"").mkString("[", ", ", "]")
    val json =
      s"""{"workload": "${o.workload}", "attempted": $attempted, "failed": $failed, """ +
        s""""errors": $errs, "end_to_end": ${obj(e2e)}, "per_layer": ${obj(layers)}, """ +
        s""""setup_reps_s": ${setups.map(num).mkString("[", ", ", "]")}, """ +
        s""""op_ms": ${opMs.map(num).mkString("[", ", ", "]")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), json)
  }
}
