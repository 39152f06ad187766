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

  def allDefs: Seq[QueryDef] =
    operators.RelationalQueries.defs ++
      operators.TextQueries.defs ++
      operators.DedupQueries.defs ++
      operators.SimilarityQueries.defs ++
      operators.EventQueries.defs ++
      operators.PipelineQueries.defs ++
      operators.MultimodalQueries.defs ++
      operators.AnalyticsQueries.defs ++
      operators.ConnectorQueries.defs ++
      operators.CurationQueries.defs ++
      operators.ZOrder.defs ++
      operators.KMeans.defs ++
      operators.BpeTrain.defs ++
      operators.ProductQuantization.defs ++
      operators.PageRank.defs ++
      operators.LabelPropagation.defs ++
      operators.TriangleCount.defs ++
      operators.CorpusStats.defs ++
      operators.AuditQueries.defs

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
