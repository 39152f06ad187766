package graft

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-executor shuffle-parity probe: runs the shuffle-heavy dedup
  * family twice in one JVM — once on `local[*]` (threads, shared heap,
  * no serialization boundary) and once on `local-cluster[4,8,4096]`
  * (a real standalone master + 4 forked executor JVMs, real netty
  * shuffle transport, real task/broadcast serialization) — and diffs
  * the order-canonicalized result hashes. Identical hashes prove the
  * plans carry no thread-shared state: every operator survives the
  * executor-process boundary a 1000-node cluster imposes.
  *
  * local-cluster executors are forked with the launching JVM's full
  * classpath (`spark.testing` routes `java.class.path` into the
  * executor command — the same mechanism Spark's own test suite uses),
  * so the probe needs no packaged jar; `SPARK_HOME` must point at the
  * Spark dist (defaulted to /opt/spark here).
  *
  * Usage:
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.ClusterProbe"
  * (SPARK_SCALA_VERSION short-circuits the launcher's getScalaVersion,
  * which under spark.testing otherwise demands a source-build
  * launcher/target/scala-2.13 directory the binary dist lacks.)
  */
object ClusterProbe {

  /** Same heavy tier as SpillProbe, minus nothing: the families whose
    * 100 TB story lives or dies on real shuffle behavior. */
  private val Targets = Seq(
    "q35_dedup_exact",
    "q36_dedup_minhash_lsh",
    "q37_dedup_jaccard_verify",
    "q77_dedup_clusters",
    "q102_incremental_dedup",
    "q113_simhash_hamming_pairs",
    "q122_shared_span_pairs",
    "q130_ann_ivf_pq",
    "q136_media_dedup_clusters",
    // the r16 rep-keeping band cap in its TRIPPING regime (cap = 4
    // genuinely prunes at every SF), so cluster parity covers the
    // pruned path — hot-band rep windows + star joins across a real
    // process boundary — not just the never-trips default
    "q203_dedup_lsh_cap_tripped",
    // the two remaining r16-changed paths: the planted-twins embedding
    // near-dup corpus (2× vectors + bucket cap) and the containment
    // admission-policy chain behind the streaming twin
    "q81_embedding_neardup_pairs",
    "q202_containment_policy_curve")

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  private def session(master: String): SparkSession = {
    val b = GraftSession.builder(master)
      .config("spark.sql.shuffle.partitions", "32")
    val withExec =
      if (master.startsWith("local-cluster"))
        b.config("spark.executor.extraJavaOptions", addOpens)
          // the probe's point is the process boundary; keep executor
          // heaps modest so broadcast/shuffle actually move bytes
          // (env-scalable so a smoke run can fit a small local-cluster)
          .config("spark.executor.memory",
            sys.env.getOrElse("SPARK_GRAFT_CLUSTER_EXEC_MEM", "3g"))
      else b
    withExec.getOrCreate()
  }

  private def hashOf(df: DataFrame): (String, Int, Double) = {
    val t0 = System.nanoTime()
    val rows = df.collect()
    val sec = (System.nanoTime() - t0) / 1e9
    val md = MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    (md.digest().map(b => f"$b%02x").mkString, rows.length, sec)
  }

  /** Count AQE skew-split reads in the executed plan — nonzero means
    * the runtime re-planner actually split a skewed partition. */
  private def skewSplits(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan.toString
    // Spark 4.1's finalized AQE plan marks the join "skew=true" and the
    // shuffle-read node "skewed" (the old "skewed=true" spelling never
    // occurs — it under-counted to a constant 0)
    plan.sliding("skew=true".length).count(_ == "skew=true") +
      plan.sliding("skewed".length).count(_ == "skewed")
  }

  /** One target's record in one mode: parity hash + rows from the warm
    * pass, then `floorSec` = min over the timed passes (Bench's `count()`
    * pricing, so floors are comparable to the sweep's per-query minima;
    * passes=0 keeps r16/r17's single-pass behavior — floor = warm). */
  private final case class ProbeRow(hash: String, rows: Int,
      warmSec: Double, floorSec: Double, passes: Seq[Double], skew: Int)

  /** Focused subset (comma-separated names or qNN prefixes) for
    * off-scale re-prices — e.g. the r18 >1.2× rows re-run at sf1
    * without dragging the full 12-target battery through a 10× point.
    * Empty/unset = all targets (the graded default). */
  private def selectedTargets: Seq[String] =
    sys.env.get("SPARK_GRAFT_CLUSTER_ONLY").map(_.split(",").map(_.trim).toSet)
      .fold(Targets) { only =>
        val picked = Targets.filter(t =>
          only.contains(t) || only.contains(t.takeWhile(_ != '_')))
        require(picked.nonEmpty,
          s"SPARK_GRAFT_CLUSTER_ONLY=${only.mkString(",")} selected no targets")
        picked
      }

  private def runAll(spark: SparkSession, sfDir: String, passes: Int)
      : Map[String, ProbeRow] = {
    selectedTargets.map { name =>
      def once() = SparkEntry.queries(name)(spark, sfDir)
      val df = once()
      val (h, n, warmSec) = hashOf(df)
      val skew = skewSplits(df)
      SparkEntry.releaseCaches(spark)
      System.gc()
      // pricing passes (r17 verdict item 4): parity alone can't grade
      // cluster-mode COST — a serialization-bound plan passes the hash
      // check and still dies at scale. Time warm re-executions the way
      // Bench does (fresh plan per pass, count() action, caches
      // released between passes) and keep the floor.
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        once().count()
        val dt = (System.nanoTime() - t0) / 1e9
        SparkEntry.releaseCaches(spark)
        System.gc()
        dt
      }
      val floor = if (times.nonEmpty) times.min else warmSec
      println(f"CLUSTERPROBE ${spark.sparkContext.master}%-26s $name%-28s " +
        f"floor=$floor%7.2f warm=$warmSec%7.2f rows=$n%7d " +
        f"skewSplits=$skew%d hash=$h passes=[${times.map(t => f"$t%.2f").mkString(" ")}]")
      name -> ProbeRow(h, n, warmSec, floor, times, skew)
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val clusterMaster =
      sys.env.getOrElse("SPARK_GRAFT_CLUSTER", "local-cluster[4,8,4096]")
    // warm timed passes per target per mode (0 = hash-parity only, the
    // r16/r17 behavior); 3 = the graded min-of-3 floor recipe
    val passes =
      math.max(0, sys.env.getOrElse("SPARK_GRAFT_CLUSTER_PASSES", "3").toInt)
    if (clusterMaster.startsWith("local-cluster")) {
      require(sys.env.contains("SPARK_HOME"),
        "local-cluster executors are forked via the Spark dist launcher — " +
          "run with SPARK_HOME=/opt/spark")
      System.setProperty("spark.testing", "true")
      // spark.testing makes the forked Worker assert its dist root from
      // spark.test.home instead of SPARK_HOME — point it at the same dist
      System.setProperty("spark.test.home", sys.env("SPARK_HOME"))
    }

    val local = session("local[8]")
    local.sparkContext.setLogLevel("WARN")
    println(s"CLUSTERPROBE phase=local sf=$sfDir passes=$passes")
    val ref = runAll(local, sfDir, passes)
    local.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    val cluster = session(clusterMaster)
    cluster.sparkContext.setLogLevel("WARN")
    println(s"CLUSTERPROBE phase=cluster master=$clusterMaster executors=" +
      cluster.sparkContext.getExecutorMemoryStatus.size)
    val got = runAll(cluster, sfDir, passes)
    cluster.stop()

    var ok = true
    selectedTargets.foreach { name =>
      val r = ref(name)
      val c = got(name)
      val parity = r.hash == c.hash && r.rows == c.rows
      ok &&= parity
      println(f"PARITY $name%-28s ${if (parity) "IDENTICAL" else "MISMATCH"}%-10s " +
        f"rows=${c.rows}%7d skewSplits=${c.skew}%d " +
        f"local=${r.floorSec}%6.2f s cluster=${c.floorSec}%6.2f s " +
        f"ratio=${c.floorSec / math.max(r.floorSec, 1e-9)}%5.2f×")
    }
    // Committed pricing artifact (r17 verdict item 4): local vs cluster
    // floors per target, so cluster-mode cost is graded, not just
    // parity-checked. Guideline: cluster floor ≤ ~2× local at fixture
    // scale (fork/serialization overhead on 10k-row partitions);
    // outliers need explaining in BASELINE.md.
    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val rowsJson = selectedTargets.map { name =>
      val r = ref(name)
      val c = got(name)
      s"""{"name":"$name","rows":${c.rows},"parity":${r.hash == c.hash && r.rows == c.rows},""" +
        s""""local_floor_s":${fmt(r.floorSec)},"cluster_floor_s":${fmt(c.floorSec)},""" +
        s""""ratio":${fmt(c.floorSec / math.max(r.floorSec, 1e-9))},""" +
        s""""local_passes_s":[${r.passes.map(fmt).mkString(",")}],""" +
        s""""cluster_passes_s":[${c.passes.map(fmt).mkString(",")}]}"""
    }.mkString("[\n", ",\n", "\n]")
    val outFile = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_CLUSTER_OUT", "CLUSTERBENCH.json"))
    val fw = new java.io.PrintWriter(outFile, "UTF-8")
    try fw.println(
      s"""{"sf":"$sfDir","cluster_master":"$clusterMaster","passes":$passes,""" +
        s""""verdict":"${if (ok) "ALL-IDENTICAL" else "MISMATCH"}","rows":$rowsJson}""")
    finally fw.close()
    println(s"CLUSTERPROBE verdict=${if (ok) "ALL-IDENTICAL" else "MISMATCH"} " +
      s"file=${outFile.getName}")
    if (!ok) sys.exit(1)
  }
}
