package perfbench

import graft.{QueryDef, SparkEntry}
import graft.operators._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import perfbench.BenchMain.{OpOutcome, Opts, Workload}
import scala.collection.mutable

/** `query_battery`: `SparkEntry.queries` entries over the seeded
  * star-schema tables under `<work>/sf`. Each operation produces one
  * query's result in full (every row and column, written as parquet
  * under `<work>/battery/<name>`), then calls `releaseCaches`. The
  * DuckDB comparison against `oracleSql` runs after the JVM exits
  * (tools/verify_local.py), so it is not timed.
  *
  * A round is [[QueryBattery.Round]]: a fixed slice of the battery
  * with a DuckDB twin, chosen so that every defining object appears. */
final class QueryBattery(spark: SparkSession, o: Opts) extends Workload {
  import QueryBattery._

  private val data = s"${o.work}/sf"
  private val out = s"${o.work}/battery"
  private val fns = SparkEntry.queries
  private val objectOf: Map[String, String] =
    Objects.flatMap { case (obj, defs) => defs.map(_.name -> obj) }.toMap
  private val perObject = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val release = mutable.Buffer.empty[Double]
  private val pinned = mutable.Buffer.empty[Double]
  private var rounds = 0

  override def roundSize: Int = Round.size
  /** the median round needs three: one slow round (the host, or the
    * JIT still settling after the warm-up) must not decide it */
  override def minRounds: Int = 3

  private def run(name: String, dest: String): Unit =
    Trace.span(s"operators.${objectOf.getOrElse(name, "Other")}") {
      fns(name)(spark, data).write.mode("overwrite").parquet(dest)
    }

  override def setup(rep: Int): Unit = {
    run(WarmUp, s"${o.work}/warmup/$WarmUp")
    SparkEntry.releaseCaches(spark)
    if (rep == 0) {
      val oracle = Trace.span("operators.oracle_sql")(SparkEntry.oracleSql)
      val missing = Round.filterNot(oracle.contains)
      require(missing.isEmpty, s"no DuckDB twin for ${missing.mkString(", ")}")
      Files.createDirectories(Paths.get(out))
      val json = Round.map(n => s"${q(n)}: ${q(oracle(n))}").mkString("{\n", ",\n", "\n}\n")
      Files.writeString(Paths.get(s"$out/oracle_sql.json"), json)
    }
  }

  /** One untimed pass over the round: the timed rounds then measure a
    * warm session (generated code compiled, JIT done), as a long-lived
    * service would run them. */
  override def warmUp(): Unit = Round.foreach { name =>
    run(name, s"${o.work}/warmup/$name")
    SparkEntry.releaseCaches(spark)
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  override def op(i: Int): OpOutcome = {
    val name = Round(i % Round.size)
    val t = System.nanoTime()
    run(name, s"$out/$name")
    perObject(objectOf.getOrElse(name, "Other")) += (System.nanoTime() - t) / 1e6
    pinned += spark.sparkContext.getPersistentRDDs.size.toDouble
    BenchMain.sampleHeap()
    val r = System.nanoTime()
    Trace.span("operators.release")(SparkEntry.releaseCaches(spark))
    release += (System.nanoTime() - r) / 1e6
    if (i % Round.size == Round.size - 1) rounds += 1
    OpOutcome(1, failed = false)
  }

  override def layerMetrics: Map[String, Double] =
    Round.map(objectOf).map(obj => s"operators.${obj}_ms" -> perObject(obj) / rounds).toMap ++
      Map("operators.release_ms" -> BenchMain.median(release.toSeq),
        "operators.pinned_rdds" -> BenchMain.median(pinned.toSeq))
}

object QueryBattery {
  /** The defining objects of `SparkEntry.allDefs`, in its order. */
  val Objects: Seq[(String, Seq[QueryDef])] = Seq(
    "RelationalQueries" -> RelationalQueries.defs,
    "TextQueries" -> TextQueries.defs,
    "DedupQueries" -> DedupQueries.defs,
    "SimilarityQueries" -> SimilarityQueries.defs,
    "EventQueries" -> EventQueries.defs,
    "PipelineQueries" -> PipelineQueries.defs,
    "MultimodalQueries" -> MultimodalQueries.defs,
    "AnalyticsQueries" -> AnalyticsQueries.defs,
    "ConnectorQueries" -> ConnectorQueries.defs,
    "CurationQueries" -> CurationQueries.defs,
    "ZOrder" -> ZOrder.defs,
    "KMeans" -> KMeans.defs,
    "BpeTrain" -> BpeTrain.defs,
    "ProductQuantization" -> ProductQuantization.defs,
    "PageRank" -> PageRank.defs,
    "LabelPropagation" -> LabelPropagation.defs,
    "TriangleCount" -> TriangleCount.defs,
    "CorpusStats" -> CorpusStats.defs,
    "AuditQueries" -> AuditQueries.defs)

  val WarmUp = "q01_pricing_summary"

  /** The round: for each defining object, the query that was fastest
    * to produce in full at sf0.01, for the objects whose fastest query
    * fits the run's time budget, plus PageRank as the iterative-graph
    * representative (README, "The query round"). */
  val Round: IndexedSeq[String] = IndexedSeq(
    "q25_bounty_regex", "q139_unicode_nfc_stats", "q35_dedup_exact",
    "q39_ann_bruteforce_topk", "q45_dedup_first_event", "q51_env_mapping_parse",
    "q53_multimodal_meta", "q75_bitwise", "q80_issue_request_render",
    "q171_weighted_sample", "q150_pagerank", "q185_dim_covariance",
    "q198_vocab_overlap_matrix")
}
