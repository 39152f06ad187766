package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** Smoke coverage for the diagnostic mains (r17 verdict item 8): each
  * tool parses its own arguments and completes a minimal run at
  * sf0.001 — `sbt test` now exercises every `main`, so an orphaned or
  * bit-rotted tool fails the suite instead of being discovered the
  * round it's needed.
  *
  * Each main is forked as its own JVM (the mains read `sys.env` and
  * write artifacts into their CWD — a fork isolates both: env is
  * injected per-run and the CWD is a scratch dir so repo artifacts
  * like SKEWPROBE.json are never clobbered by a test run). The fork
  * carries the same JDK-17 --add-opens set build.sbt gives forked
  * tests, and the test JVM's own classpath.
  */
class ToolMainsSpec extends AnyFunSuite {

  private val sf0001 = "/root/testdata/sf0.001"

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Fork `java <addOpens> -cp <test classpath> <mainClass> <args>` in a
    * scratch CWD with `env` injected; return (exitCode, combined output). */
  private def runMain(mainClass: String, args: Seq[String],
      env: Map[String, String], cwd: File): (Int, String) = {
    val java = new File(new File(sys.props("java.home"), "bin"), "java").getPath
    val cmd = Seq(java) ++ addOpens ++ Seq(
      "-Xmx4g", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"), mainClass) ++ args
    val out = new StringBuilder
    val logger = ProcessLogger(
      l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val exit = Process(cmd, cwd, env.toSeq: _*).!(logger)
    (exit, out.toString)
  }

  private def scratch(name: String): File =
    Files.createTempDirectory(s"graft-toolsmoke-$name").toFile

  test("ScaleUp replicates documents+embeddings at sf0.001") {
    val dir = scratch("scaleup")
    val outDir = new File(dir, "sf-smoke").getPath
    val (exit, out) = runMain("graft.ScaleUp", Seq(sf0001, outDir, "2"),
      Map("SPARK_GRAFT_CPUS" -> "4"), dir)
    assert(exit == 0, s"ScaleUp exit $exit:\n${out.takeRight(2000)}")
    assert(out.contains(""""replicas":2"""),
      s"missing ScaleUp summary line:\n${out.takeRight(2000)}")
    assert(new File(s"$outDir/documents.parquet").isDirectory &&
      new File(s"$outDir/embeddings.parquet").isDirectory,
      "ScaleUp output tables missing")
  }

  test("SkewProbe trips both defenses at reduced synthetic sizes") {
    val dir = scratch("skewprobe")
    // crowd 2000: uncapped m(m-1)/2 ≈ 2M candidate rows still >100×
    // the capped star; probe 500k rows: the hot key's ~24 MB
    // incompressible partition still crosses the 8m AQE threshold;
    // build keys scaled down 4× with the probe so the salted variant's
    // 16× build replication doesn't swamp the hot-key flattening —
    // all in-probe requires stay armed, the run shrinks ~10×
    val (exit, out) = runMain("graft.SkewProbe", Seq.empty,
      Map("SPARK_GRAFT_MASTER" -> "local[8]",
        "SPARK_GRAFT_SKEW_CROWD" -> "2000",
        "SPARK_GRAFT_SKEW_ROWS" -> "500000",
        "SPARK_GRAFT_SKEW_KEYS" -> "25000"), dir)
    assert(exit == 0, s"SkewProbe exit $exit:\n${out.takeRight(3000)}")
    assert(out.contains("SKEWPROBE verdict=OK"),
      s"missing SkewProbe verdict:\n${out.takeRight(3000)}")
    assert(new File(dir, "SKEWPROBE.json").isFile,
      "SkewProbe artifact not written to its CWD")
  }

  test("ClusterProbe hash-parity at sf0.001 on a small local-cluster") {
    val dir = scratch("clusterprobe")
    val (exit, out) = runMain("graft.ClusterProbe", Seq.empty,
      Map(
        "SPARK_HOME" -> sys.env.getOrElse("SPARK_HOME", "/opt/spark"),
        "SPARK_SCALA_VERSION" -> "2.13",
        "SPARK_GRAFT_SF_DIR" -> sf0001,
        "SPARK_GRAFT_CLUSTER" -> "local-cluster[2,2,1536]",
        "SPARK_GRAFT_CLUSTER_EXEC_MEM" -> "1g",
        // hash-parity only — the smoke is about the plumbing, not floors
        "SPARK_GRAFT_CLUSTER_PASSES" -> "0"), dir)
    assert(exit == 0, s"ClusterProbe exit $exit:\n${out.takeRight(3000)}")
    assert(out.contains("CLUSTERPROBE verdict=ALL-IDENTICAL"),
      s"missing parity verdict:\n${out.takeRight(3000)}")
    assert(new File(dir, "CLUSTERBENCH.json").isFile,
      "ClusterProbe pricing artifact not written to its CWD")
  }

  test("SpanVerifyProbe census + sampled re-verify passes at sf0.001") {
    val dir = scratch("spanverify")
    val (exit, out) = runMain("graft.SpanVerifyProbe",
      Seq(sf0001, "SPANVERIFY_SMOKE.json", "50"),
      Map("SPARK_GRAFT_CPUS" -> "4"), dir)
    assert(exit == 0, s"SpanVerifyProbe exit $exit:\n${out.takeRight(2000)}")
    assert(out.contains("\"verdict\":\"PASS\""),
      s"SpanVerifyProbe did not PASS:\n${out.takeRight(2000)}")
  }

  test("StreamBench prices the four heavy streams at sf0.001") {
    val dir = scratch("streambench")
    val (exit, out) = runMain("graft.StreamBench",
      Seq(sf0001, "STREAMBENCH_SMOKE.json", "100", "300"),
      Map("SPARK_GRAFT_CPUS" -> "4"), dir)
    assert(exit == 0, s"StreamBench exit $exit:\n${out.takeRight(3000)}")
    assert(out.contains("STREAMBENCH {\"probe\":\"stream_bench\""),
      s"missing STREAMBENCH summary line:\n${out.takeRight(3000)}")
    for (s <- Seq("dedup_minhash", "dedup_simhash", "media_dedup", "ann_serve"))
      assert(out.contains(s""""$s":{"""),
        s"stream $s missing from the artifact line:\n${out.takeRight(3000)}")
  }

  test("GraftSession is the only place src/main builds a Spark session") {
    val srcMain = new File(sys.props.getOrElse("user.dir", "."), "src/main").toPath
    val builds = "SparkSession\\s*\\.\\s*builder".r
    val sources = Files.walk(srcMain).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val builders = sources
      .filter(p => builds.findFirstIn(Files.readString(p)).isDefined)
      .map(p => srcMain.relativize(p).toString)
    assert(builders === Seq("scala/graft/GraftSession.scala"),
      s"SparkSession.builder outside GraftSession: ${builders.sorted.mkString(", ")}")
  }

  test("StateStore is the only place src/main renames or deletes through a Hadoop FileSystem") {
    // every ledger layout (generation swaps, logs, their recovery)
    // lives in StateStore; a fold elsewhere that moves files itself
    // keeps a second copy of that crash-consistency protocol
    val srcMain = new File(sys.props.getOrElse("user.dir", "."), "src/main").toPath
    val usesHadoopFs = "getFileSystem|hadoop\\.fs\\.FileSystem".r
    val movesFiles = "\\.(rename|delete)\\s*\\(".r
    val movers = Files.walk(srcMain).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .filter { p =>
        val src = Files.readString(p)
        usesHadoopFs.findFirstIn(src).isDefined && movesFiles.findFirstIn(src).isDefined
      }
      .map(p => srcMain.relativize(p).toString).sorted
    assert(movers === Seq("scala/graft/state/StateStore.scala"),
      s"Hadoop FileSystem renames/deletes outside StateStore: ${movers.mkString(", ")}")
  }

  test("Bench contention guard tracks the newest committed anchor artifact") {
    // temp-dir resolution: highest round wins, field parsed exactly
    val dir = scratch("anchorguard")
    def write(name: String, body: String): Unit = {
      val w = new java.io.PrintWriter(new File(dir, name), "UTF-8")
      try w.println(body) finally w.close()
    }
    write("BENCH_ANCHOR_r17.json", """{"round": 17, "control_q01_q30_s": 9.999}""")
    write("BENCH_ANCHOR_r18.json", """{"round": 18,
 "control_q01_q30_s": 7.799,
 "total_min_s": 129.408}""")
    assert(Bench.anchorControlFromArtifacts(dir) === Some(7.799),
      "guard must read control_q01_q30_s from the HIGHEST-round anchor")
    assert(Bench.anchorControlFromArtifacts(scratch("noanchor")).isEmpty,
      "no anchor artifact must disable the guard (None), not invent a control")
    // repo-root resolution: the committed artifact the driver-run Bench
    // (CWD = repo root) will actually grade against resolves and is sane
    val repoRoot = new File(sys.props.getOrElse("user.dir", "."))
    val fromRepo = Bench.anchorControlFromArtifacts(repoRoot)
    assert(fromRepo.exists(c => c > 1.0 && c < 60.0),
      s"repo-root anchor control missing or implausible: $fromRepo")
  }

  test("Bench per-query hot-row guard reads the anchor's queries map " +
      "(r19 verdict item 4: the total-control test alone is too coarse)") {
    val dir = scratch("hotrows")
    def write(name: String, body: String): Unit = {
      val w = new java.io.PrintWriter(new File(dir, name), "UTF-8")
      try w.println(body) finally w.close()
    }
    // highest round wins; parsing must stop at the queries BLOCK and
    // not leak into sibling objects (evidence_passes carries qNN keys
    // with array values — the pair regex must not match those)
    write("BENCH_ANCHOR_r17.json",
      """{"round": 17, "control_q01_q30_s": 9.0,
 "queries":{"q01_pricing_summary":9.999},
 "evidence_passes":{"q01_pricing_summary":{"A":[9.9]}}}""")
    write("BENCH_ANCHOR_r18.json",
      """{"round": 18, "control_q01_q30_s": 7.799,
 "queries":{"q01_pricing_summary":0.194,"q59_pivot":0.185},
 "evidence_passes":{"q01_pricing_summary":{"A":[0.2,0.21]},"q59_pivot":{"A":[0.19]}}}""")
    val qs = Bench.anchorQueriesFromArtifacts(dir)
    assert(qs === Map("q01_pricing_summary" -> 0.194, "q59_pivot" -> 0.185),
      s"hot-row guard must read per-query minima from the HIGHEST-round anchor: $qs")
    assert(Bench.anchorQueriesFromArtifacts(scratch("noanchor2")).isEmpty,
      "no anchor artifact must disable the per-query trigger, not invent minima")
    // repo-root resolution: the committed anchor's per-query map loads
    // whole and agrees with the scalar control field
    val repoRoot = new File(sys.props.getOrElse("user.dir", "."))
    val fromRepo = Bench.anchorQueriesFromArtifacts(repoRoot)
    assert(fromRepo.size > 100,
      s"repo-root anchor queries map implausibly small: ${fromRepo.size}")
    val control = fromRepo.collect {
      case (n, v) if n.takeWhile(_ != '_').drop(1).toInt <= 30 => v
    }.sum
    val scalar = Bench.anchorControlFromArtifacts(repoRoot).get
    assert(math.abs(control - scalar) < 0.02,
      s"per-query control sum $control disagrees with control_q01_q30_s $scalar")
  }
}
