package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (ARRAY<FLOAT>, 64-dim).
  *
  * Dot products are computed as an ordered left fold over
  * `zip_with(a, b, _*_)` after an exact float→double cast, so Spark and
  * the DuckDB oracle (`list_sum(list_transform(...))`, also an in-order
  * fold) produce bit-identical IEEE doubles — no tolerance needed.
  *
  * Scale path: the brute-force form is the correctness baseline
  * (cross-join is fine for a small query set against a big corpus —
  * broadcast the queries, stream the corpus). The hyperplane-LSH
  * variants bucket vectors by a P-bit signature per hash table with
  * T OR-ed tables — 8×8 for ANN search (q41: recall at semantic
  * similarity targets), 4×12 for near-dup pair mining (q81: precision
  * bounds the quadratic within-bucket pair join) — so at 100 TB the
  * candidate join is equi on the bucket key (shuffle once, ~1/2^P of
  * the n² pairs per table) and per-query/per-bucket candidate caps
  * bound the re-rank regardless of skew; exact cosine only runs over
  * capped candidates.
  */
object SimilarityQueries {

  /** Hyperplane-LSH geometry: T OR-ed hash tables × P planes over
    * DIM-dim embeddings. Component signs are md5-derived (deterministic,
    * no RNG — rerunning on another cluster gives identical signatures)
    * and materialized driver-side into literal ±1 arrays, so the per-row
    * signature work is P·T codegen'd [[graft.functions.VectorDot]] loops
    * — not interpreted higher-order lambdas with a per-element md5,
    * which is what made the 4-bit round-1 version CPU-bound on top of
    * its near-quadratic candidate join.
    *
    * TWO geometries, because LSH recall is a function of the target
    * similarity and the two LSH consumers target different regimes:
    *  - SEARCH (q41 ANN): 8 tables × 8 planes. The r19 clustered-
    *    geometry probe (ANNQUALITY.json) showed the old 4×12 default
    *    collapsing at realistic targets (recall@5 0.63 at cos≈0.93,
    *    0.34 at ≈0.87) — 12-plane buckets are too fine for semantic
    *    neighbors, and collision probability (1−θ/π)^P decays
    *    exponentially in P. 8 OR-ed 8-bit tables recover 0.95/0.84
    *    (ANNQUALITY_LSH8x8.json) at a candidate fraction of ~8/256
    *    per query, still cap-bounded under skew.
    *  - PAIR MINING (q81 near-dup pairs): 4 tables × 12 planes. The
    *    mining target is cos ≥ 0.8 verified pairs dominated by ≈0.99
    *    twins, where 12-plane collision is near-certain; finer buckets
    *    keep the candidate PAIR join (quadratic within buckets, unlike
    *    q41's linear per-query probe) at ~1/4096 of n² per table. */
  // Search T/P, the candidate cap and the IVF budgets are fixed: the
  // tuning curves that chose them are committed (ANNQUALITY*.json), and
  // the DuckDB oracle SQL is generated from the SAME vals, so both
  // engines always run one parameter set. Bench records them in its
  // artifact (`ann_params`).
  private[graft] val LshTables = 8
  private[graft] val LshPlanes = 8
  private[operators] val LshPairTables = 4
  private[operators] val LshPairPlanes = 12
  private[operators] val LshDim = 64
  /** Per-query re-rank budget for q41. The cap is ranked by multi-
    * table collision count (see q41), so under Zipf cluster skew the
    * kept candidates are the closest ones — but a hot cluster larger
    * than the cap still loses the tail (ANNQUALITY_SKEW: ≈0.10
    * recall@5 below the balanced floor with the hottest cluster at
    * ~16% of the corpus; ANNQUALITY_SKEW_CAP2000 prices the next cap
    * step). */
  private[graft] val LshCandidateCap = 1000

  /** Fixed IVF coarse-centroid budget (k). Constant by design: the
    * assignment cross-product is n·k, so k must NOT scale with the
    * corpus (production trains k ≈ √n once and freezes it; the bench
    * uses the first k ids as the deterministic stand-in for trained
    * centroids). */
  private[graft] val IvfCentroids = 64

  /** Cells probed per query in the multi-probe IVF variant (q104): the
    * classic recall knob — single-probe loses a twin whenever a vector
    * sits on a cell boundary; probing the query's P nearest cells
    * recovers it while the candidate fraction stays P/k of the corpus.
    * Default 8 (was 3): the r19 clustered-geometry probe priced the
    * move — recall@5 at the cos≈0.93 point 0.889 → 0.985, at ≈0.87
    * 0.775 → 0.927 (ANNQUALITY_NPROBE8.json) for a candidate fraction
    * of 8/64 = 12.5% of the corpus per query. AnnRecallSpec pins the
    * bought recall. */
  private[graft] val IvfNprobe = 8

  /** Per-bucket row cap for the near-dup pair join (q81): a skewed LSH
    * bucket (anisotropic embeddings pile into few buckets) is quadratic
    * *within* the bucket, so buckets are deterministically truncated to
    * the first cap ids before the self-join — the pair-join analogue of
    * [[LshCandidateCap]]. */
  private[operators] val NearDupBucketCap = 1024

  /** signs(t)(p): the ±1 hyperplane for (table t, plane p). Shared
    * across geometries — a (t, p) pair names the same hyperplane in
    * both, so the two configs differ only in how many they use. */
  private def lshSignsFor(tables: Int, planes: Int): IndexedSeq[IndexedSeq[Array[Double]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(t: Int, p: Int, i: Int): Double = {
      val h = md.digest(s"pl${t}_$p:$i".getBytes("UTF-8"))
      // top nibble of the first byte < 8 → +1 (same rule as a hex
      // md5 string's first char being in '0'..'7')
      if (((h(0) & 0xff) >> 4) < 8) 1.0 else -1.0
    }
    IndexedSeq.tabulate(tables)(t =>
      IndexedSeq.tabulate(planes)(p =>
        Array.tabulate(LshDim)(i => sign(t, p, i))))
  }
  private[operators] lazy val lshSigns = lshSignsFor(LshTables, LshPlanes)
  private lazy val lshPairSigns = lshSignsFor(LshPairTables, LshPairPlanes)

  /** Spark side of the signature: per table t an element `'t:' + P sign
    * bits`. ONE native [[graft.functions.LshBucketsExpr]] evaluating
    * all T·P hyperplane dots in a compiled loop — the composed
    * `array(concat(CASE WHEN vector_dot(...)...))` form generated a
    * codegen method past HotSpot's JIT size ceiling, leaving the LSH
    * family's hottest per-row loop interpreted (q41's signature stage:
    * a single 1.3 s task at sf0.1, vs ~milliseconds compiled; the
    * r21 A/B prices the swap). Bit semantics identical by construction
    * (see the expression's doc); the oracle SQL below is generated from
    * the SAME sign matrix and is untouched. Explode to get one
    * (vec, bucket) row per table. */
  private def lshBucketsColFor(
      signs: IndexedSeq[IndexedSeq[Array[Double]]]): org.apache.spark.sql.Column =
    graft.functions.LshBucketsExpr.lsh_buckets(col("emb"), signs)
  private def lshBucketsCol: org.apache.spark.sql.Column =
    lshBucketsColFor(lshSigns)
  private def lshPairBucketsCol: org.apache.spark.sql.Column =
    lshBucketsColFor(lshPairSigns)

  /** DuckDB side of the signature, generated from the SAME sign matrix:
    * one bucket SELECT per hash table over the `n` CTE. `emb[i] * ±1.0`
    * is an exact negation/identity and list_sum is the same in-order
    * fold as VectorDot, so both engines compute identical bits. */
  private def lshBucketsSqlFor(signs: IndexedSeq[IndexedSeq[Array[Double]]]): String =
    signs.indices.map { t =>
      val bits = signs(t).indices.map { p =>
        val arr = signs(t)(p).map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]::DOUBLE[]")
        s"""(CASE WHEN list_sum(list_transform(range($LshDim),
           i -> emb[i+1] * ($arr)[i+1])) > 0 THEN '1' ELSE '0' END)"""
      }.mkString(" || ")
      s"SELECT vec_id, '$t:' || $bits AS bucket FROM n"
    }.mkString("\n UNION ALL\n ")
  private lazy val lshBucketsSql: String = lshBucketsSqlFor(lshSigns)
  private lazy val lshPairBucketsSql: String = lshBucketsSqlFor(lshPairSigns)

  /** embeddings with exact double cast + precomputed L2 norm.
    * Deliberately NOT [[Tables.fanOut]]-ed: the corpus's per-row vector
    * work (a 64-dim fold + 48 hyperplane dots) is small relative to the
    * stage/exchange overhead the repartition adds to every query in the
    * family — measured as a net in-sweep regression on q39/q40. At a
    * 1B-vector scale the input arrives in thousands of splits and the
    * question disappears. */
  private def normed(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("norm",
        expr("sqrt(aggregate(zip_with(emb, emb, (x, y) -> x * y), 0D, (a, v) -> a + v))"))

  private val dot = "aggregate(zip_with(qe, emb, (x, y) -> x * y), 0D, (a, v) -> a + v)"

  /** [[normed]] ∪ deterministic perturbed twins (vec_id + Ids.VariantOffset,
    * dim-0 scaled ×1.25 — the q116 family's planted-twin rule): the
    * synthetic embeddings have no natural near-dups, so q81's
    * pair-mining oracle row was hash-matching on 0 = 0 rows and the
    * real recall signal lived only in AnnRecallSpec. Over this corpus
    * the planted (v, v+1M) pairs sit at cosine ≈ 0.99+, collide in the
    * sign-LSH buckets (a ×1.25 scale of one coordinate flips a
    * hyperplane sign only when the dot was already knife-edge), and
    * the oracle reproduces the same twins exactly — non-empty,
    * hash-verified near-dup output. */
  private def normedWithTwins(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("emb"))
    val twins = e.select((col("vec_id") + Ids.VariantOffset).as("vec_id"), col("label"),
      expr("transform(emb, (x, i) -> CASE WHEN i = 0 THEN x * 1.25D ELSE x END)").as("emb"))
    e.unionByName(twins)
      .withColumn("norm",
        expr("sqrt(aggregate(zip_with(emb, emb, (x, y) -> x * y), 0D, (a, v) -> a + v))"))
  }

  /** Oracle CTE twin of [[normedWithTwins]] (same `n` shape as
    * [[oracleNormed]], over originals ∪ planted twins). */
  private val oracleNormedTwins = s"""WITH e0 AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings),
    e AS (SELECT vec_id, label, emb FROM e0
      UNION ALL
      SELECT vec_id + ${Ids.VariantOffset}, label,
        list_transform(range(len(emb)),
          i -> CASE WHEN i = 0 THEN emb[i+1] * 1.25 ELSE emb[i+1] END)
      FROM e0),
    n AS (SELECT vec_id, label, emb,
      sqrt(list_sum(list_transform(range(len(emb)), i -> emb[i+1] * emb[i+1]))) AS norm
      FROM e)"""

  /** Oracle CTE: double-cast embeddings + norms. */
  private val oracleNormed = """WITH e AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings),
    n AS (SELECT vec_id, label, emb,
      sqrt(list_sum(list_transform(range(len(emb)), i -> emb[i+1] * emb[i+1]))) AS norm
      FROM e)"""

  private val oracleDot =
    "list_sum(list_transform(range(len(q.emb)), i -> q.emb[i+1] * c.emb[i+1]))"

  /** Cells each vector joins for candidate generation in the
    * MULTI-CELL semantic dedup (q119): the q104 multi-probe remedy
    * applied to pair mining — a boundary-straddling twin pair shares a
    * cell once BOTH sides sit in their 2 nearest cells. */
  private[operators] val SemDedupProbes = 2

  /** q116/q119's cell-assignment pipeline WITHOUT the materializing
    * checkpoint: corpus ∪ deterministic perturbed twins, each vector
    * assigned to its `probes` nearest fixed-codebook cells by squared
    * distance (broadcast O(n·k) loop — multi-assignment multiplies only
    * the assignment OUTPUT by p, never the n·k distance work), per-cell
    * skew cap applied after. Exposed un-checkpointed so PlanAuditSpec
    * can pin the assignment job's shape (the final query's executed
    * plan only scans the checkpointed blocks). */
  private[graft] def semanticCells(s: SparkSession, d: String, probes: Int = 1): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val twins = e.select((col("vec_id") + Ids.VariantOffset).as("vec_id"),
      expr("transform(emb, (x, i) -> CASE WHEN i = 0 THEN x * 1.25D ELSE x END)").as("emb"))
    val all = e.unionByName(twins)
      .withColumn("norm",
        expr("sqrt(aggregate(zip_with(emb, emb, (x, y) -> x * y), 0D, (a, v) -> a + v))"))
    val cents = e.filter(col("vec_id").isin(KMeans.CentroidIds: _*))
      .select(col("vec_id").as("cid"), col("emb").as("ce"))
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("sqdist").asc, col("cid").asc)
    val wCap = Window.partitionBy(col("cid")).orderBy(col("vec_id").asc)
    all.crossJoin(broadcast(cents))
      .withColumn("sqdist",
        expr("aggregate(zip_with(emb, ce, (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v)"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") <= probes)
      .withColumn("brn", row_number().over(wCap))
      .filter(col("brn") <= NearDupBucketCap)
      .select("vec_id", "cid", "emb", "norm")
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- brute-force cosine top-k for a query subset (ANN baseline)
    QueryDef(
      "q39_ann_bruteforce_topk",
      (s, d) => {
        val e = normed(s, d)
        val q = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("norm").as("qnorm"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)
        broadcast(q).join(e, col("vec_id") =!= col("query_id"))
          .withColumn("cosine", expr(dot) / (col("qnorm") * col("norm")))
          .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .orderBy("query_id", "rn")
      },
      Some(s"""$oracleNormed,
        p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            $oracleDot / (q.norm * c.norm) AS cosine
          FROM n q JOIN n c ON q.vec_id % 100 = 0 AND c.vec_id != q.vec_id)
        SELECT query_id, neighbor_id, cosine, rn FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rn
          FROM p) t
        WHERE rn <= 5 ORDER BY query_id, rn""")),

    // ---- embedding-cosine near-dup: nearest neighbor within label block
    QueryDef(
      "q40_nn_within_label",
      (s, d) => {
        val e = normed(s, d)
        val a = e.select(col("vec_id"), col("label"), col("emb").as("qe"), col("norm").as("qnorm"))
        // deterministic per-block candidate cap (md5 order — seedless,
        // retry-stable): bounds the block join at O(block × min(block,
        // cap)) instead of block². Inactive at test scales (blocks
        // ≪ 1000, so the output stays the exact NN and the oracle
        // mirrors the same pool); at 100 TB a hot block degrades to a
        // deterministic-pool approximation instead of a dead job — the
        // q41/q81 cap policy applied to the blocked-exact case.
        val capW = Window.partitionBy(col("label"))
          .orderBy(md5(col("other_id").cast("string")).asc, col("other_id").asc)
        val b = e.select(col("vec_id").as("other_id"), col("label"), col("emb"), col("norm"))
          .withColumn("ck", row_number().over(capW))
          .filter(col("ck") <= 1000).drop("ck")
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("cosine").desc, col("other_id").asc)
        a.join(b, Seq("label"))
          .filter(col("vec_id") =!= col("other_id"))
          .withColumn("cosine", expr(dot) / (col("qnorm") * col("norm")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("label"), col("other_id").as("nn_id"), col("cosine"))
          .orderBy("vec_id")
      },
      Some(s"""$oracleNormed,
        pool AS (SELECT vec_id, label, emb, norm FROM (
            SELECT *, row_number() OVER (PARTITION BY label
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS ck FROM n) t
          WHERE ck <= 1000),
        p AS (SELECT q.vec_id, q.label, c.vec_id AS nn_id,
            $oracleDot / (q.norm * c.norm) AS cosine
          FROM n q JOIN pool c ON q.label = c.label AND q.vec_id != c.vec_id)
        SELECT vec_id, label, nn_id, cosine FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nn_id) AS rn
          FROM p) t
        WHERE rn = 1 ORDER BY vec_id"""),
      doc = "Blocked nearest neighbor with a deterministic per-block " +
        "candidate cap: exact while blocks stay under the cap (all test " +
        "scales), a bounded deterministic-pool approximation beyond it " +
        "— cost O(block × min(block, cap)) per block, one shuffle on " +
        "label. The exhaustive scale path for unbounded/skewed blocks " +
        "is the LSH family (q41/q81)."),

    // ---- hyperplane-LSH bucketed ANN (scale path). A pair is a
    //      candidate if it collides in ANY of the 8 tables
    //      (union-of-bands recall boost, same structure as MinHash
    //      banding); 8 planes/table = 256 buckets per table — the
    //      r19-probe-tuned search geometry (recall@5 0.95 at cos≈0.93
    //      vs 0.63 for the old 4×12, ANNQUALITY_LSH8x8.json) at a
    //      candidate fraction ~8/256 per query, and a deterministic
    //      per-query cap bounds the re-rank even under bucket skew.
    //      The DuckDB oracle is generated from the SAME driver-side
    //      sign matrix, so the whole pipeline — signatures, banding,
    //      cap, re-rank — is hash-verified, not rows-only.
    QueryDef(
      "q41_ann_lsh_bucketed",
      (s, d) => {
        import graft.functions.VectorFunctions.vector_dot
        val e = normed(s, d).withColumn("bucket", explode(lshBucketsCol))
          .select("vec_id", "bucket")
        val q = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("query_id"), col("bucket"))
        // candidate cap ranked by MULTI-TABLE COLLISION COUNT (ties by
        // neighbor_id): a pair's collision count across the T OR-ed
        // tables is a free monotone similarity proxy, so when a hot
        // cluster floods a query's buckets past the cap, the kept 1000
        // are the most-colliding (closest) candidates instead of the
        // 1000 smallest ids. Measured on the Zipf-clustered probe
        // (hottest cluster ≈ 16% of the corpus): recall@5 at the tight
        // point 0.782 → parity with the balanced corpus, where the
        // id-ordered cap was similarity-blind (ANNQUALITY_SKEW.json).
        // Same plan shape — the collision count rides the dedup groupBy
        // the candidate distinct already paid for.
        val wCap = Window.partitionBy(col("query_id"))
          .orderBy(col("hits").desc, col("neighbor_id").asc)
        val cands = broadcast(q).join(e, Seq("bucket"))
          .filter(col("vec_id") =!= col("query_id"))
          .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
          .agg(count(lit(1)).as("hits"))
          .withColumn("crn", row_number().over(wCap))
          .filter(col("crn") <= LshCandidateCap)
          .select("query_id", "neighbor_id")
        val byId = normed(s, d)
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)
        cands
          .join(broadcast(byId.filter(col("vec_id") % 100 === 0)
                  .select(col("vec_id").as("query_id"), col("emb").as("qe"),
                          col("norm").as("qnorm"))), Seq("query_id"))
          .join(byId.select(col("vec_id").as("neighbor_id"), col("emb"), col("norm")),
                Seq("neighbor_id"))
          .withColumn("cosine", vector_dot(col("qe"), col("emb")) / (col("qnorm") * col("norm")))
          .select(col("query_id"), col("neighbor_id"), col("cosine"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .orderBy("query_id", "rn")
      },
      Some {
        s"""$oracleNormed,
          b AS ($lshBucketsSql),
          q AS (SELECT vec_id AS query_id, bucket FROM b WHERE vec_id % 100 = 0),
          cand AS (SELECT q.query_id, c.vec_id AS neighbor_id, count(*) AS hits
            FROM q JOIN b c USING (bucket) WHERE c.vec_id != q.query_id
            GROUP BY q.query_id, c.vec_id),
          capped AS (SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY hits DESC, neighbor_id) AS crn
            FROM cand) t WHERE crn <= $LshCandidateCap),
          r AS (SELECT cp.query_id, cp.neighbor_id,
              list_sum(list_transform(range(len(q.emb)), i -> q.emb[i+1] * c.emb[i+1]))
                / (q.norm * c.norm) AS cosine
            FROM capped cp JOIN n q ON q.vec_id = cp.query_id
            JOIN n c ON c.vec_id = cp.neighbor_id)
          SELECT query_id, neighbor_id, cosine, rn FROM (
            SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id) AS INT) AS rn FROM r) t
          WHERE rn <= 5 ORDER BY query_id, rn"""
      },
      doc = s"Multi-table hyperplane-LSH ANN: candidates = union of $LshTables " +
        s"$LshPlanes-bit bucket collisions (${1 << LshPlanes} buckets/table), " +
        "per-query candidate cap ranked by multi-table collision count " +
        "(skew-proof: hot clusters keep their closest candidates), " +
        "exact cosine re-rank (top 5).")
    ,

    // ---- IVF ANN: coarse-quantizer buckets (the k-means-style scale
    //      path; centroids here are a deterministic sample — production
    //      would train them with k-means). The centroid budget is FIXED
    //      (k = IvfCentroids, independent of corpus size), so nearest-
    //      cell assignment is O(n·k) work via one broadcast — a modulo
    //      sample would grow the centroid set with n and quietly turn
    //      assignment into O(n²/c). Search probes the query's
    //      nearest-centroid cell only: the classic inverted-file trade
    //      of recall for a 1/cells candidate fraction. Fully oracled:
    //      assignment, single-cell probe and re-rank are reproduced in
    //      DuckDB with the same in-order dot fold.
    QueryDef(
      "q78_ann_ivf",
      (s, d) => {
        import graft.functions.VectorFunctions._
        val e = normed(s, d)
        // rank-based budget (k smallest vec_ids via TakeOrderedAndProject
        // — scale-safe, no global window), NOT `vec_id < k`: an id
        // predicate assumes ids are dense from 0 and silently yields an
        // empty centroid set on an offset corpus
        val centroids = e.orderBy(col("vec_id").asc).limit(IvfCentroids)
          .select(col("vec_id").as("centroid_id"), col("emb").as("ce"),
                  col("norm").as("cnorm"))
        // assign every vector to its nearest centroid (argmin by cosine)
        val wAssign = Window.partitionBy(col("vec_id"))
          .orderBy(col("c_cos").desc, col("centroid_id").asc)
        val assigned = e.crossJoin(broadcast(centroids))
          .withColumn("c_cos",
            vector_dot(col("emb"), col("ce")) / (col("norm") * col("cnorm")))
          .withColumn("crn", row_number().over(wAssign))
          .filter(col("crn") === 1)
          .select(col("vec_id"), col("label"), col("emb"), col("norm"),
                  col("centroid_id"))
        val queries = assigned.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("query_id"), col("emb").as("qe"),
                  col("norm").as("qnorm"), col("centroid_id"))
        // probe only the query's own cell
        val wTop = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)
        broadcast(queries).join(assigned, Seq("centroid_id"))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("cosine",
            vector_dot(col("qe"), col("emb")) / (col("qnorm") * col("norm")))
          .select(col("query_id"), col("centroid_id"),
                  col("vec_id").as("neighbor_id"), col("cosine"))
          .withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= 5)
          .orderBy("query_id", "rn")
      },
      Some(s"""$oracleNormed,
        c AS (SELECT vec_id AS centroid_id, emb AS ce, norm AS cnorm
          FROM n ORDER BY vec_id LIMIT $IvfCentroids),
        a AS (SELECT vec_id, label, emb, norm, centroid_id FROM (
          SELECT n.vec_id, n.label, n.emb, n.norm, c.centroid_id,
            row_number() OVER (PARTITION BY n.vec_id ORDER BY
              list_sum(list_transform(range(len(n.emb)), i -> n.emb[i+1] * c.ce[i+1]))
                / (n.norm * c.cnorm) DESC, c.centroid_id) AS crn
          FROM n CROSS JOIN c) t WHERE crn = 1),
        q AS (SELECT vec_id AS query_id, emb AS qe, norm AS qnorm, centroid_id
          FROM a WHERE vec_id % 100 = 0),
        p AS (SELECT q.query_id, q.centroid_id, a.vec_id AS neighbor_id,
            list_sum(list_transform(range(len(q.qe)), i -> q.qe[i+1] * a.emb[i+1]))
              / (q.qnorm * a.norm) AS cosine
          FROM q JOIN a USING (centroid_id) WHERE a.vec_id != q.query_id)
        SELECT query_id, centroid_id, neighbor_id, cosine, rn FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INT) AS rn FROM p) t
        WHERE rn <= 5 ORDER BY query_id, rn"""),
      doc = "IVF ANN: deterministic coarse centroids, nearest-cell " +
        "assignment, single-cell probe, exact re-rank (top 5).")
    ,

    // ---- IVF with MULTI-PROBE: identical index (same centroids, same
    //      nearest-cell data assignment), but each query probes its
    //      IvfNprobe nearest cells instead of one. The probe join stays
    //      EQUI on centroid_id — multi-probe only multiplies the
    //      (tiny, broadcast) query side by P, never the corpus side —
    //      and because every corpus vector lives in exactly one cell,
    //      (query, neighbor) candidate pairs are unique with no dedup
    //      step. Candidates scale as P/k of the corpus per query: the
    //      recall/cost dial a production IVF actually ships with.
    QueryDef(
      "q104_ann_ivf_multiprobe",
      (s, d) => {
        import graft.functions.VectorFunctions._
        val e = normed(s, d)
        val centroids = e.orderBy(col("vec_id").asc).limit(IvfCentroids)
          .select(col("vec_id").as("centroid_id"), col("emb").as("ce"),
                  col("norm").as("cnorm"))
        val wAssign = Window.partitionBy(col("vec_id"))
          .orderBy(col("c_cos").desc, col("centroid_id").asc)
        val assigned = e.crossJoin(broadcast(centroids))
          .withColumn("c_cos",
            vector_dot(col("emb"), col("ce")) / (col("norm") * col("cnorm")))
          .withColumn("crn", row_number().over(wAssign))
          .filter(col("crn") === 1)
          .select(col("vec_id"), col("emb"), col("norm"), col("centroid_id"))
        // the probe list ranks centroids for QUERY vectors only — the
        // P-per-query window runs over |queries|·k rows, not the corpus
        val queryProbes = e.filter(col("vec_id") % 100 === 0)
          .crossJoin(broadcast(centroids))
          .withColumn("c_cos",
            vector_dot(col("emb"), col("ce")) / (col("norm") * col("cnorm")))
          .withColumn("crn", row_number().over(wAssign))
          .filter(col("crn") <= IvfNprobe)
          .select(col("vec_id").as("query_id"), col("emb").as("qe"),
                  col("norm").as("qnorm"), col("centroid_id"))
        val wTop = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id").asc)
        broadcast(queryProbes).join(assigned, Seq("centroid_id"))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("cosine",
            vector_dot(col("qe"), col("emb")) / (col("qnorm") * col("norm")))
          .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"))
          .withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= 5)
          .orderBy("query_id", "rn")
      },
      Some(s"""$oracleNormed,
        c AS (SELECT vec_id AS centroid_id, emb AS ce, norm AS cnorm
          FROM n ORDER BY vec_id LIMIT $IvfCentroids),
        a AS (SELECT vec_id, emb, norm, centroid_id FROM (
          SELECT n.vec_id, n.emb, n.norm, c.centroid_id,
            row_number() OVER (PARTITION BY n.vec_id ORDER BY
              list_sum(list_transform(range(len(n.emb)), i -> n.emb[i+1] * c.ce[i+1]))
                / (n.norm * c.cnorm) DESC, c.centroid_id) AS crn
          FROM n CROSS JOIN c) t WHERE crn = 1),
        q AS (SELECT vec_id AS query_id, qe, qnorm, centroid_id FROM (
          SELECT n.vec_id, n.emb AS qe, n.norm AS qnorm, c.centroid_id,
            row_number() OVER (PARTITION BY n.vec_id ORDER BY
              list_sum(list_transform(range(len(n.emb)), i -> n.emb[i+1] * c.ce[i+1]))
                / (n.norm * c.cnorm) DESC, c.centroid_id) AS crn
          FROM n CROSS JOIN c WHERE n.vec_id % 100 = 0) t WHERE crn <= $IvfNprobe),
        p AS (SELECT q.query_id, a.vec_id AS neighbor_id,
            list_sum(list_transform(range(len(q.qe)), i -> q.qe[i+1] * a.emb[i+1]))
              / (q.qnorm * a.norm) AS cosine
          FROM q JOIN a USING (centroid_id) WHERE a.vec_id != q.query_id)
        SELECT query_id, neighbor_id, cosine, rn FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INT) AS rn FROM p) t
        WHERE rn <= 5 ORDER BY query_id, rn"""),
      doc = "IVF ANN with multi-probe: each query probes its " +
        "IvfNprobe nearest cells (equi join on centroid_id, query side " +
        "broadcast), exact re-rank (top 5) — the recall/cost dial.")
    ,

    // ---- embedding-cosine near-duplicate detection at scale: the
    //      LSH-bucketed analogue of the MinHash dedup family (q36/q37),
    //      over vectors instead of shingles. Candidates = bucket
    //      collisions in any hash table (equi self-join, never n²);
    //      verification = exact cosine over candidates only, keeping
    //      pairs above the near-dup threshold. Fully oracled from the
    //      same sign matrix.
    QueryDef(
      "q81_embedding_neardup_pairs",
      (s, d) => {
        import graft.functions.VectorFunctions.vector_dot
        // bucket-size guard: rank rows within each bucket and keep only
        // the first NearDupBucketCap ids, so one hot bucket can never
        // re-create the quadratic blowup the LSH bucketing exists to
        // avoid (deterministic order → oracle reproduces the same
        // truncation bit-for-bit)
        val wBucket = Window.partitionBy(col("bucket")).orderBy(col("vec_id").asc)
        // corpus ∪ planted twins (see normedWithTwins): the pair miner
        // must actually FIND pairs at the oracle scale, not vacuously
        // hash-match an empty set
        val corpus = normedWithTwins(s, d).localCheckpoint()
        val e = corpus.withColumn("bucket", explode(lshPairBucketsCol))
          .select("vec_id", "bucket")
          .withColumn("brn", row_number().over(wBucket))
          .filter(col("brn") <= NearDupBucketCap)
          .drop("brn")
        val pairs = e.select(col("vec_id").as("vec_a"), col("bucket"))
          .join(e.select(col("vec_id").as("vec_b"), col("bucket")), Seq("bucket"))
          .filter(col("vec_a") < col("vec_b"))
          .select("vec_a", "vec_b").distinct()
        val byId = corpus
        pairs
          .join(byId.select(col("vec_id").as("vec_a"), col("emb").as("ea"),
            col("norm").as("na")), Seq("vec_a"))
          .join(byId.select(col("vec_id").as("vec_b"), col("emb").as("eb"),
            col("norm").as("nb")), Seq("vec_b"))
          .withColumn("cosine", vector_dot(col("ea"), col("eb")) / (col("na") * col("nb")))
          .filter(col("cosine") >= 0.8)
          .select("vec_a", "vec_b", "cosine")
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""$oracleNormedTwins,
        b0 AS ($lshPairBucketsSql),
        b AS (SELECT vec_id, bucket FROM (
          SELECT vec_id, bucket,
            row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS brn
          FROM b0) t WHERE brn <= $NearDupBucketCap),
        cand AS (SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
          FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
        SELECT vec_a, vec_b,
          list_sum(list_transform(range(len(x.emb)), i -> x.emb[i+1] * y.emb[i+1]))
            / (x.norm * y.norm) AS cosine
        FROM cand JOIN n x ON cand.vec_a = x.vec_id
                  JOIN n y ON cand.vec_b = y.vec_id
        WHERE list_sum(list_transform(range(len(x.emb)), i -> x.emb[i+1] * y.emb[i+1]))
            / (x.norm * y.norm) >= 0.8
        ORDER BY vec_a, vec_b"""),
      doc = "Embedding near-dup pairs over corpus + planted twins: LSH " +
        "bucket candidates (equi self-join per table, never all-pairs, " +
        "deterministic per-bucket size cap against skew) + exact cosine " +
        "verify at the 0.8 threshold — non-empty, hash-verified output " +
        "at the oracle scale.")
    ,

    // ---- semantic dedup (SemDeDup shape): cluster the corpus with a
    //      FIXED codebook, then search near-duplicates only WITHIN each
    //      cell — candidate generation is an equi self-join on the cell
    //      id, O(Σ cellᵢ²) instead of O(n²); with k ≈ √n cells that is
    //      O(n^1.5) and each cell's work is one shuffle partition. The
    //      documented blind spot (pairs straddling a cell boundary) is
    //      the accepted trade the original SemDeDup makes; q81's LSH
    //      buckets are the OR-ed multi-table remedy when recall matters
    //      more than cost. Candidate cells carry the same deterministic
    //      per-cell cap as q81's buckets (skew-bounded re-rank).
    //      The synthetic corpus has no semantic twins, so — exactly like
    //      the text dedup family's variant corpus — the query unions a
    //      deterministic perturbed twin per vector (vec_id + Ids.VariantOffset
    //      — the dedup family's shared twin offset, collision-safe
    //      against any realistic embeddings fixture growth;
    //      first component × 1.25: one exactly-representable IEEE
    //      multiply, cosine ≈ 0.9995 to its source, while unrelated
    //      64-dim pairs sit near 0). Output: each flagged vector with
    //      its best keeper (highest cosine, min-id tiebreak) — the q102
    //      attribution convention.
    QueryDef(
      "q116_semantic_dedup",
      (s, d) => {
        import graft.functions.VectorFunctions.vector_dot
        // both self-join sides read the stored cell assignments
        val cells = semanticCells(s, d).localCheckpoint()
        val wBest = Window.partitionBy(col("vec_b")).orderBy(col("cosine").desc, col("vec_a").asc)
        cells.select(col("cid"), col("vec_id").as("vec_a"), col("emb").as("ea"), col("norm").as("na"))
          .join(cells.select(col("cid"), col("vec_id").as("vec_b"), col("emb").as("eb"),
            col("norm").as("nb")), Seq("cid"))
          .filter(col("vec_a") < col("vec_b"))
          .withColumn("cosine", vector_dot(col("ea"), col("eb")) / (col("na") * col("nb")))
          .filter(col("cosine") >= 0.99)
          .withColumn("rn", row_number().over(wBest))
          .filter(col("rn") === 1)
          .select(col("vec_b").as("vec_id"), col("vec_a").as("dup_of"), col("cosine"))
          .orderBy("vec_id")
      },
      Some(s"""WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
        tw AS (SELECT vec_id + ${Ids.VariantOffset} AS vec_id,
            list_transform(range(len(emb)),
              i -> CASE WHEN i = 0 THEN emb[1] * 1.25 ELSE emb[i+1] END) AS emb
          FROM e),
        allv AS (SELECT vec_id, emb FROM e UNION ALL SELECT vec_id, emb FROM tw),
        n AS (SELECT vec_id, emb,
            sqrt(list_sum(list_transform(range(len(emb)), i -> emb[i+1] * emb[i+1]))) AS norm
          FROM allv),
        c AS (SELECT vec_id AS cid, emb AS ce FROM e
              WHERE vec_id IN (${KMeans.CentroidIds.mkString(", ")})),
        dist AS (SELECT n.vec_id, c.cid, n.emb, n.norm,
            list_sum(list_transform(range(len(n.emb)),
              i -> (n.emb[i+1] - c.ce[i+1]) * (n.emb[i+1] - c.ce[i+1]))) AS sqdist
          FROM n CROSS JOIN c),
        cells AS (SELECT vec_id, cid, emb, norm FROM (
            SELECT *, row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS brn FROM (
              SELECT vec_id, cid, emb, norm FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sqdist, cid) AS rn
                FROM dist) t WHERE rn = 1) a) b
          WHERE brn <= $NearDupBucketCap),
        p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
            list_sum(list_transform(range(len(a.emb)), i -> a.emb[i+1] * b.emb[i+1]))
              / (a.norm * b.norm) AS cosine
          FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id)
        SELECT vec_b AS vec_id, vec_a AS dup_of, cosine FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_b ORDER BY cosine DESC, vec_a) AS rn
          FROM p WHERE cosine >= 0.99) t
        WHERE rn = 1 ORDER BY vec_id"""),
      doc = "semantic dedup: fixed-codebook cells, within-cell cosine >= 0.99, best-keeper attribution per flagged vector"),

    // ---- MULTI-CELL semantic dedup: q116's documented blind spot is
    //      the pair straddling a cell boundary (8 planted twins missed
    //      at sf0.01 — source lands in cell A, its twin a hair's
    //      breadth into cell B). The remedy is the SAME one q104
    //      applied to IVF search: assign each vector to its p=2
    //      nearest cells for CANDIDATE GENERATION, so a boundary pair
    //      shares a cell as soon as each side's top-2 cells overlap —
    //      near-certain for near-identical vectors, whose centroid
    //      distance rankings agree. The candidate join stays EQUI on
    //      the cell id (multi-probe multiplies rows by p, never the
    //      join shape), duplicate pair hits (a pair colliding in both
    //      shared cells) collapse in one scalar-column DISTINCT after
    //      the cosine verify, and cost rises by ~p² within cells —
    //      the recall/cost dial, with q116 as the single-cell cost
    //      baseline. AnnRecallSpec pins planted-twin recall ≥ 0.99.
    QueryDef(
      "q119_semantic_dedup_multicell",
      (s, d) => {
        import graft.functions.VectorFunctions.vector_dot
        val cells = semanticCells(s, d, probes = SemDedupProbes).localCheckpoint()
        val wBest = Window.partitionBy(col("vec_b")).orderBy(col("cosine").desc, col("vec_a").asc)
        cells.select(col("cid"), col("vec_id").as("vec_a"), col("emb").as("ea"), col("norm").as("na"))
          .join(cells.select(col("cid"), col("vec_id").as("vec_b"), col("emb").as("eb"),
            col("norm").as("nb")), Seq("cid"))
          .filter(col("vec_a") < col("vec_b"))
          .withColumn("cosine", vector_dot(col("ea"), col("eb")) / (col("na") * col("nb")))
          .filter(col("cosine") >= 0.99)
          .select("vec_a", "vec_b", "cosine")
          .distinct()
          .withColumn("rn", row_number().over(wBest))
          .filter(col("rn") === 1)
          .select(col("vec_b").as("vec_id"), col("vec_a").as("dup_of"), col("cosine"))
          .orderBy("vec_id")
      },
      Some(s"""WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings),
        tw AS (SELECT vec_id + ${Ids.VariantOffset} AS vec_id,
            list_transform(range(len(emb)),
              i -> CASE WHEN i = 0 THEN emb[1] * 1.25 ELSE emb[i+1] END) AS emb
          FROM e),
        allv AS (SELECT vec_id, emb FROM e UNION ALL SELECT vec_id, emb FROM tw),
        n AS (SELECT vec_id, emb,
            sqrt(list_sum(list_transform(range(len(emb)), i -> emb[i+1] * emb[i+1]))) AS norm
          FROM allv),
        c AS (SELECT vec_id AS cid, emb AS ce FROM e
              WHERE vec_id IN (${KMeans.CentroidIds.mkString(", ")})),
        dist AS (SELECT n.vec_id, c.cid, n.emb, n.norm,
            list_sum(list_transform(range(len(n.emb)),
              i -> (n.emb[i+1] - c.ce[i+1]) * (n.emb[i+1] - c.ce[i+1]))) AS sqdist
          FROM n CROSS JOIN c),
        cells AS (SELECT vec_id, cid, emb, norm FROM (
            SELECT *, row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS brn FROM (
              SELECT vec_id, cid, emb, norm FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sqdist, cid) AS rn
                FROM dist) t WHERE rn <= $SemDedupProbes) a) b
          WHERE brn <= $NearDupBucketCap),
        p0 AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
            list_sum(list_transform(range(len(a.emb)), i -> a.emb[i+1] * b.emb[i+1]))
              / (a.norm * b.norm) AS cosine
          FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id),
        p AS (SELECT DISTINCT vec_a, vec_b, cosine FROM p0 WHERE cosine >= 0.99)
        SELECT vec_b AS vec_id, vec_a AS dup_of, cosine FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_b ORDER BY cosine DESC, vec_a) AS rn
          FROM p) t
        WHERE rn = 1 ORDER BY vec_id"""),
      doc = "multi-cell semantic dedup: each vector in its 2 nearest cells for candidate generation — closes q116's cell-boundary blind spot, same equi-join shape")
  )
}
