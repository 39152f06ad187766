package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator family's [[QueryDef]] battery;
  * `oracleSql` carries the DuckDB twin for each SQL-expressible one.
  *
  * CONTRACT NOTE for external drivers sweeping many queries in one
  * SparkSession: some queries materialize an internal index via
  * `localCheckpoint` (the LSH signature index in q36/q37/q77, the CC
  * label rounds). Those blocks are NOT dropped by
  * `spark.catalog.clearCache()` — they live in the block manager as
  * persistent RDDs and pin executor memory until explicitly released.
  * Call [[releaseCaches]] between queries (Bench and Verify both do)
  * or storage memory starves execution memory over a long sweep.
  */
object SparkEntry {

  /** Per-query cleanup hook: drops catalog-cached plans AND persistent
    * RDD blocks (incl. localCheckpoint blocks, which clearCache cannot
    * reach). Safe to call after any `queries(name)` result is fully
    * consumed; the result's lineage may be truncated, so do not call
    * while a returned DataFrame is still to be re-computed. */
  def releaseCaches(spark: SparkSession): Unit = {
    // memo first: a memoized frame whose checkpoint blocks have been
    // unpersisted cannot recompute (truncated lineage)
    operators.DedupQueries.clearChainMemo(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** Every defining object with its battery, each listed once, in
    * battery order: the families Bench reports a subtotal for. */
  def families: Seq[(String, Seq[QueryDef])] = Seq(
    "RelationalQueries" -> operators.RelationalQueries.defs,
    "TextQueries" -> operators.TextQueries.defs,
    "DedupQueries" -> operators.DedupQueries.defs,
    "SimilarityQueries" -> operators.SimilarityQueries.defs,
    "EventQueries" -> operators.EventQueries.defs,
    "PipelineQueries" -> operators.PipelineQueries.defs,
    "MultimodalQueries" -> operators.MultimodalQueries.defs,
    "AnalyticsQueries" -> operators.AnalyticsQueries.defs,
    "ConnectorQueries" -> operators.ConnectorQueries.defs,
    "CurationQueries" -> operators.CurationQueries.defs,
    "ZOrder" -> operators.ZOrder.defs,
    "KMeans" -> operators.KMeans.defs,
    "BpeTrain" -> operators.BpeTrain.defs,
    "ProductQuantization" -> operators.ProductQuantization.defs,
    "PageRank" -> operators.PageRank.defs,
    "LabelPropagation" -> operators.LabelPropagation.defs,
    "TriangleCount" -> operators.TriangleCount.defs,
    "CorpusStats" -> operators.CorpusStats.defs,
    "AuditQueries" -> operators.AuditQueries.defs)

  def allDefs: Seq[QueryDef] = families.flatMap(_._2)

  /** The queries `SPARK_GRAFT_ONLY` names (comma-separated full names),
    * in battery order; None when it is unset. A name that matches no
    * query fails the run: a typo'd filter would otherwise run nothing. */
  def only: Option[Seq[QueryDef]] = sys.env.get("SPARK_GRAFT_ONLY").map { list =>
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- allDefs.map(_.name)
    require(names.nonEmpty && unknown.isEmpty,
      s"SPARK_GRAFT_ONLY=$list names no such query: ${unknown.toSeq.sorted.mkString(", ")}")
    allDefs.filter(q => names(q.name))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q06_star_join_region_year")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
