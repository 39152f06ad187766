package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PageRank over the user–item interaction graph mined from `events` —
  * the link-analysis primitive (Page et al. 1999) a corpus pipeline
  * uses to weight documents by their position in a reference graph
  * (web link graph, citation graph, user–content bipartite graph).
  *
  * Graph: distinct (user, item) interaction pairs — the item is the
  * JSON `props.k` field — as an UNDIRECTED bipartite graph (each pair
  * contributes both directions), so every node has degree ≥ 1 and
  * there are no dangling-mass corrections to carry.
  *
  * INTEGER-EXACT iteration (the cross-engine determinism move): ranks
  * live on a 10^12 fixed-point grid; a node's per-edge contribution is
  * `pr div deg` and the damped update is
  * `(15·10^12) div 100 + (85·Σ contrib) div 100` — all int64, so the
  * result is bit-identical in any engine regardless of aggregation
  * order (a double-summed PageRank is shuffle-order dependent).
  * Headroom: Σ ranks = n·10^12, so a hub's damped inflow stays under
  * 85·n·10^12 — int64-safe up to n ≈ 10^5; larger graphs drop the
  * grid to 10^9 for the same 10^4 headroom factor.
  *
  * Iteration shape (the ConnectedComponents/KMeans lesson): the edge
  * frame (with source degree attached) is pinned ONCE; each round is
  * one equi-join of the pinned edges with the rank frame plus one
  * dst-keyed aggregation, and the round's rank frame is pinned before
  * the next references it — round t's plan is the same fixed-size
  * template as round 1's. At 100 TB both sides co-partition on the
  * node key, so every round is a narrow co-partitioned join + one
  * shuffle on dst (the standard Pregel-on-SQL shape).
  */
object PageRank {

  private[graft] val Rounds = 3
  private val Unit: Long = 1000000000000L

  /** Directed edge list (both directions of each distinct interaction
    * pair) with the SOURCE degree attached: a count over a window
    * partitioned by `src`, one shuffle on `src` and no aggregate and
    * join of its own. */
  private[graft] def edgesWithDeg(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.events(s, d)
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .filter(col("k").isNotNull)
      .select(concat(lit("u"), col("user_id").cast("string")).as("u"),
        concat(lit("i"), col("k").cast("string")).as("i"))
      .distinct()
    pairs.select(col("u").as("src"), col("i").as("dst"))
      .union(pairs.select(col("i").as("src"), col("u").as("dst")))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
  }

  /** The pinned (node, deg, pr = 1) frame of round 0: the degree frame
    * and the first rank frame in one. */
  private def start(ed: DataFrame): DataFrame =
    ed.select(col("src").as("node"), col("deg")).distinct()
      .withColumn("pr", lit(Unit)).localCheckpoint()

  /** T pinned damped rounds over an already-pinned (src, dst, deg)
    * edge frame; returns the final (node, pr) frame. Factored from
    * [[iterate]] so specs can drive a hand-computable graph through
    * the EXACT production round template. */
  private[graft] def iterateFrom(ed: DataFrame, rounds: Int): DataFrame =
    roundsFrom(ed, start(ed), rounds)

  private def roundsFrom(ed: DataFrame, r0: DataFrame, rounds: Int): DataFrame = {
    var ranks = r0.select(col("node"), col("pr"))
    (1 to rounds).foreach { _ =>
      ranks = ed
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy("dst")
        .agg(sum(expr("pr div deg")).as("s"))
        .select(col("dst").as("node"),
          expr(s"${Unit / 100 * 15} + ((85 * s) div 100)").as("pr"))
        .localCheckpoint()
    }
    ranks
  }

  /** T pinned damped rounds; returns (final ranks, degree frame). */
  private[graft] def iterate(s: SparkSession, d: String, rounds: Int): (DataFrame, DataFrame) = {
    val ed = edgesWithDeg(s, d).localCheckpoint()
    val r0 = start(ed)
    (roundsFrom(ed, r0, rounds), r0.select(col("node"), col("deg")))
  }

  /** The oracle's unrolled-CTE round template (DuckDB `//` is Spark's
    * `div` on non-negative int64). */
  private def oracleRound(prev: String, out: String): String =
    s"""$out AS (SELECT ed.dst AS node,
        ${Unit / 100 * 15} + ((85 * CAST(sum($prev.pr // ed.deg) AS BIGINT)) // 100) AS pr
      FROM ed JOIN $prev ON ed.src = $prev.node GROUP BY ed.dst)"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q150_pagerank",
      (s, d) => {
        val (ranks, deg) = iterate(s, d, Rounds)
        ranks.join(deg, Seq("node"))
          .select(col("node"), col("deg"), col("pr"))
          .orderBy(col("pr").desc, col("node").asc)
          .limit(25)
      },
      Some(s"""WITH pairs AS (SELECT DISTINCT
            'u' || CAST(user_id AS VARCHAR) AS u,
            'i' || CAST(CAST(json_extract_string(props, '$$.k') AS BIGINT) AS VARCHAR) AS i
          FROM events WHERE json_extract_string(props, '$$.k') IS NOT NULL),
        edges AS (SELECT u AS src, i AS dst FROM pairs
                  UNION ALL SELECT i AS src, u AS dst FROM pairs),
        deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
        ed AS (SELECT e.src, e.dst, dg.deg FROM edges e JOIN deg dg ON e.src = dg.node),
        r0 AS (SELECT node, CAST($Unit AS BIGINT) AS pr FROM deg),
        ${oracleRound("r0", "r1")},
        ${oracleRound("r1", "r2")},
        ${oracleRound("r2", "r3")}
        SELECT r3.node, CAST(deg.deg AS BIGINT) AS deg, r3.pr
        FROM r3 JOIN deg ON r3.node = deg.node
        ORDER BY r3.pr DESC, r3.node LIMIT 25"""),
      doc = "integer-exact damped PageRank (T=3) over the user-item interaction graph from events: pinned per-round plan template, top-25 nodes by rank")
  )
}
