package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** Smoke coverage for the mains (r17 verdict item 8): each tool parses
  * its own arguments and completes a minimal run at sf0.001, so an
  * orphaned or bit-rotted tool fails the suite instead of being found
  * the round it is needed. The mains are the program's (`ScaleUp`,
  * `PlanDump`, `Bench`) plus the test-side [[ClusterParity]], which
  * needs a JVM of its own for its local-cluster context. The other
  * cases pin what src/main may do: build sessions, move ledger files,
  * read environment variables.
  *
  * Each main is forked as its own JVM (the mains read `sys.env` and
  * write artifacts into their CWD; a fork isolates both: env is
  * injected per run and the CWD is a scratch dir, so committed
  * artifacts are never clobbered by a test run). The fork carries the
  * same JDK 17 --add-opens set build.sbt gives forked tests, and the
  * test JVM's own classpath.
  */
class ToolMainsSpec extends AnyFunSuite {

  private val sf0001 = "/root/testdata/sf0.001"

  /** Fork `java <AddOpens> -cp <test classpath> <mainClass> <args>` in a
    * scratch CWD with `env` injected; return (exitCode, combined output). */
  private def runMain(mainClass: String, args: Seq[String],
      env: Map[String, String], cwd: File): (Int, String) = {
    val java = new File(new File(sys.props("java.home"), "bin"), "java").getPath
    val cmd = Seq(java) ++ ClusterParity.AddOpens ++ Seq(
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

  test("ClusterParity: dedup family hashes identically on local[4] and local-cluster") {
    val dir = scratch("clusterparity")
    val (exit, out) = runMain("graft.ClusterParity",
      Seq(sf0001, "local-cluster[2,2,1536]"),
      Map("SPARK_HOME" -> sys.env.getOrElse("SPARK_HOME", "/opt/spark"),
        "SPARK_SCALA_VERSION" -> "2.13"), dir)
    assert(exit == 0, s"ClusterParity exit $exit:\n${out.takeRight(3000)}")
    assert(out.contains("CLUSTERPARITY 12/12 identical"),
      s"missing parity verdict:\n${out.takeRight(3000)}")
  }

  test("PlanDump writes q77's final plan and its intermediate executions at sf0.001") {
    val dir = scratch("plandump")
    val outDir = new File(dir, "plans")
    val (exit, out) = runMain("graft.PlanDump",
      Seq(outDir.getPath, "smoke", "q77_dedup_clusters"),
      Map("SPARK_GRAFT_SF_DIR" -> sf0001, "SPARK_GRAFT_CPUS" -> "4"), dir)
    assert(exit == 0, s"PlanDump exit $exit:\n${out.takeRight(2000)}")
    val dump = new File(outDir, "q77_dedup_clusters_smoke.txt")
    assert(dump.isFile, s"no plan file written:\n${out.takeRight(2000)}")
    assert(Files.readString(dump.toPath).contains("== intermediate execution 1/"),
      "the dump holds no intermediate execution")
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

  test("ProbeFold is the only dedup fold that caps hot keys or filters on the ledger stamp") {
    // the cap-and-representative rule and the replay guard each live
    // once: any code line naming the cap or the stamp column, in any
    // form, counts. DedupQueries, which defines the cap for its batch
    // LSH chain, is exempt, and so is declaring the stamp column in a
    // ledger schema, which reads nothing
    val graft = new File(sys.props.getOrElse("user.dir", "."), "src/main/scala/graft").toPath
    val folds = "cappedBands|added_batch|\\bStamp\\b".r
    val comment = "^\\s*(?:\\*|/\\*|//)".r
    val hits = Seq("streaming", "operators")
      .flatMap(d => Files.walk(graft.resolve(d)).iterator().asScala)
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith("DedupQueries.scala"))
      .filter(p => Files.readAllLines(p).asScala
        .filter(l => comment.findFirstIn(l).isEmpty)
        .map(_.replace("StructField(StateStore.Stamp, LongType)", ""))
        .exists(l => folds.findFirstIn(l).isDefined))
      .map(p => graft.relativize(p).toString).sorted
    assert(hits === Seq("operators/ProbeFold.scala"),
      s"hot-key caps or stamp filters outside ProbeFold: ${hits.mkString(", ")}")
  }

  test("ProbeFold is the only place the operators build a Hamming gate") {
    // the block keying and the bit_count verify of every 64-bit
    // near-duplicate search live once; a DuckDB oracle's
    // `bit_count(xor(` is SQL text, not a Spark expression, and is exempt
    val graft = new File(sys.props.getOrElse("user.dir", "."), "src/main/scala/graft").toPath
    val gate = "bit_count\\((?!xor\\()".r
    val comment = "^\\s*(?:\\*|/\\*|//)".r
    val hits = Seq("streaming", "operators")
      .flatMap(d => Files.walk(graft.resolve(d)).iterator().asScala)
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith("ProbeFold.scala"))
      .filter(p => Files.readAllLines(p).asScala
        .exists(l => comment.findFirstIn(l).isEmpty && gate.findFirstIn(l).isDefined))
      .map(p => graft.relativize(p).toString).sorted
    assert(hits.isEmpty, s"Hamming gates outside ProbeFold: ${hits.mkString(", ")}")
  }

  test("src/main reads the project-field dimension in one place: EtlCli.resolveConfig") {
    // mustInit reads the dimension once and hands the resolved field
    // and option ids to the migration; a second read is a second
    // request per run and a second copy of the validation
    val srcMain = new File(sys.props.getOrElse("user.dir", "."), "src/main").toPath
    val comment = "^\\s*(?:\\*|/\\*|//)".r
    val definition = "^\\s*(?:private\\S*\\s+)?def\\s+(\\w+)".r.unanchored
    val reads = Files.walk(srcMain).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices
          .filter(i => lines(i).contains("/project/fields") &&
            comment.findFirstIn(lines(i)).isEmpty)
          .map { i =>
            // the def the line sits in: the nearest one above it
            val enclosing = (i to 0 by -1).map(lines).collectFirst {
              case definition(name) => name
            }
            s"${srcMain.relativize(p)}:${enclosing.getOrElse("?")}"
          }
      }
    assert(reads === Seq("scala/graft/board/EtlCli.scala:resolveConfig"),
      s"/project/fields named in: ${reads.sorted.mkString(", ")}")
  }

  test("Bench times a filtered battery and its family subtotals sum to its total") {
    val dir = scratch("bench")
    val (exit, out) = runMain("graft.Bench", Seq.empty,
      Map("SPARK_GRAFT_SF_DIR" -> sf0001, "SPARK_GRAFT_CPUS" -> "4",
        "SPARK_GRAFT_ONLY" -> "q01_pricing_summary,q06_star_join_region_year"), dir)
    assert(exit == 0, s"Bench exit $exit:\n${out.takeRight(3000)}")
    val last = out.trim.linesIterator.toSeq.last
    assert(last.contains(""""metric":"total"""") && last.contains(""""n_queries":2"""),
      s"last line is not the compact summary:\n${out.takeRight(3000)}")
    val detail = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(dir, "BENCH_DETAIL_ONLY.json"))
    val rows = detail.get("rows").elements().asScala.toSeq
    assert(rows.map(_.get("name").asText()) ==
      Seq("q01_pricing_summary", "q06_star_join_region_year"))
    assert(rows.forall(r => r.get("family").asText() == "RelationalQueries" &&
      r.get("passes_s").size() == Bench.Passes && r.get("failed_passes").asInt() == 0))
    val families = detail.get("families").properties().asScala.map(_.getValue.asDouble()).sum
    assert(math.abs(families - detail.get("total_min_s").asDouble()) < 0.0015,
      s"family subtotals do not sum to the total: $detail")
    assert(!new File(dir, "BENCH_DETAIL.json").exists, "a filtered run wrote the full-sweep record")
  }

  test("every SparkEntry query sits in exactly one family; qNN prefixes are unique") {
    val families = SparkEntry.families
    assert(families.map(_._1).distinct.size == families.size, "a family is listed twice")
    // each family is named after the object that defines its queries
    families.foreach { case (family, defs) =>
      val module = Class.forName(s"graft.operators.$family$$").getField("MODULE$").get(null)
      val own = module.getClass.getMethod("defs").invoke(module)
        .asInstanceOf[Seq[QueryDef]].map(_.name)
      assert(defs.map(_.name) == own, s"family $family does not list $family.defs")
    }
    val names = families.flatMap(_._2.map(_.name))
    assert(names.distinct.size == names.size, "a query sits in two families")
    assert(names.toSet == SparkEntry.queries.keySet)
    val prefixes = names.map(_.takeWhile(_ != '_'))
    assert(prefixes.distinct.size == prefixes.size, "duplicate qNN prefix")
  }

  test("src/main reads exactly the pinned set of environment variables") {
    // a new knob is a new mode to test and document: adding one means
    // adding it here, in the same change
    val pinned = Set(
      "GITHUB_API_URL", "GITHUB_TOKEN", "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_ONLY", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_WARM_DIR", "SPARK_MASTER")
    val srcMain = new File(sys.props.getOrElse("user.dir", "."), "src/main").toPath
    val read = "(?:sys\\.env(?:\\.\\w+)?|System\\.getenv)\\(\\s*(\"[^\"]*\")?".r
    val sources = Files.walk(srcMain).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val reads = sources.flatMap(p => read.findAllMatchIn(Files.readString(p))
      .map(m => srcMain.relativize(p).toString -> Option(m.group(1))))
    // a key held in a variable would slip past the pin
    val unnamed = reads.collect { case (file, None) => file }
    assert(unnamed.isEmpty, s"environment read without a literal key in: ${unnamed.distinct.mkString(", ")}")
    val keys = reads.flatMap(_._2).map(_.stripPrefix("\"").stripSuffix("\"")).toSet
    assert(keys == pinned,
      s"added: ${(keys -- pinned).toSeq.sorted.mkString(", ")}; " +
        s"removed: ${(pinned -- keys).toSeq.sorted.mkString(", ")}")
  }
}
