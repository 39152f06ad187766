package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization ANN (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search") — the compression tier a 100 TB vector
  * corpus actually ships: each 64-dim vector is encoded as m=8 codes
  * (one byte each — 8× smaller than the int8 scalar tier q94 proves,
  * 32× smaller than float32),
  * and query-time search is Asymmetric Distance Computation: one
  * per-query lookup table of (subspace × codeword) partial distances,
  * then distance(q, x) = Σ_j LUT[j][code_j(x)] — an EQUI-JOIN of the
  * stored codes against the tiny LUT, never a scan of raw vectors.
  *
  * Exact-integer arithmetic end-to-end (the q94 lesson: fp dot products
  * diverge between engines in the last ulp; integers never do): vectors
  * enter the same per-dim [0,255] integer grid as q94, and every
  * distance here — encode, LUT, exact ground truth — is a sum of
  * squared INTEGER differences, bit-identical in Spark and DuckDB.
  *
  * Codebooks are FIXED and deterministic (like q90's codebook
  * centroids): subspace j's 256 codewords are the j-th subvectors of
  * the vectors with vec_id < 256. A production system k-means-trains
  * them (q106 is that loop); the PQ mechanics — encode, ADC, recall —
  * are identical either way and that is what this query pins.
  *
  * Scale shape: encode is one broadcast join of n·m subvector rows
  * against the m×256-row codebook (O(n·m·256) integer ops — the
  * irreducible PQ encode cost, embarrassingly parallel); ADC reads the
  * packed codes (ONE array<int> row per vector — bytes-per-vector I/O,
  * the whole point of PQ) against broadcast per-query LUTs, one fused
  * lookup-sum per (vector, query), into a bounded-heap smallest-k agg;
  * the exact-L2 audit is the only probes×n pass and exists to measure
  * recall in-query.
  */
object ProductQuantization {

  private[operators] val M = 8
  private[graft] val SubDim = 8 // 64 / M
  private[operators] val CodebookSize = 256
  private[operators] val K = 5
  // ADC retrieves a SHORTLIST, exact distance re-ranks it — the
  // standard IVFPQ serving shape: the byte tier prunes the corpus 10×+,
  // the full-precision (here: int-grid) tier touches only the shortlist
  // via an equi-join fetch. Untrained codebooks put the true top-5 in
  // the ADC top-200 far more reliably than in the ADC top-5
  // (measured at sf0.1: ADC-only recall@5 ≈ 0.45; reranked ≈ 0.94);
  // re-ranking recovers it at 200/n of the exact pass's cost.
  private[operators] val Shortlist = 200

  // All Spark-side distances use the native codegen'd
  // IntVectorFunctions (int_sqdist / pq_code); the oracle's SQL twin
  // of the distance is inlined in oracleSql's `sq` template.

  /** The corpus per-dim (mins, maxs) as ONE broadcastable row — the
    * quantizer parameters a serving tier ships to its edges. */
  private[graft] def gridStats(e: DataFrame): DataFrame =
    e.select(posexplode(col("emb")).as(Seq("dim", "v")))
      .groupBy("dim").agg(min("v").as("mn"), max("v").as("mx"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, mn))), s -> s.mn)").as("mins"),
        expr("transform(array_sort(collect_list(struct(dim, mx))), s -> s.mx)").as("maxs"))

  /** Apply the [0,255] per-dim quantizer to (vec_id, emb) rows under
    * broadcast stats — the SAME expression for the corpus build and
    * for arriving query vectors ([[graft.streaming.AnnServeStream]]). */
  private[graft] def applyGrid(vecs: DataFrame, stats: DataFrame): DataFrame = {
    val q8 = "transform(sequence(0, size(emb) - 1), i -> CAST(CASE " +
      "WHEN maxs[i] > mins[i] THEN round((emb[i] - mins[i]) / (maxs[i] - mins[i]) * 255) " +
      "ELSE 0 END AS INT))"
    vecs.crossJoin(broadcast(stats)).select(col("vec_id"), expr(q8).as("qv"))
  }

  /** q94's per-dim [0,255] integer grid: (vec_id, qv: array<int>). */
  private[graft] def intGrid(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    applyGrid(e, gridStats(e))
  }

  /** The m-subvector split of a gridded vector column named `qv` —
    * ONE definition shared by the index build and the serving path
    * (batch probes and streaming micro-batches derive bit-identical
    * subvectors by construction). */
  private[graft] val SubSplitExpr: String =
    s"transform(sequence(0, ${M - 1}), j -> struct(j AS j, slice(qv, j * $SubDim + 1, $SubDim) AS sub))"

  /** The static PQ serving index — what a production vector store
    * persists and every searcher (batch q126 OR a streaming
    * micro-batch, [[graft.streaming.AnnServeStream]]) probes:
    * `grid` is the int-grid fetch tier for exact re-rank, `cbAll` the
    * fully flattened subspace-major codebook (ONE broadcastable row —
    * m·k·d ints), `codesPacked` the byte codes packed ONE ROW PER
    * VECTOR (array of m positional codes — the layout a PQ store
    * actually pages: bytes-per-vector, not m join rows per vector),
    * `stats` the 1-row quantizer parameters arriving RAW query
    * vectors pass through ([[applyGrid]]) before probing. */
  final case class PqIndex(grid: DataFrame, cbAll: DataFrame,
      codesPacked: DataFrame, stats: DataFrame)

  /** Build [[PqIndex]] once from the corpus (pinned via
    * localCheckpoint — the parquet-persisted form in production).
    *
    * stats/grid/subs are pinned LAZILY (r22, the ConnectedComponents
    * one-job trick generalized): each is referenced exactly once per
    * job by its first consumer, so the codesPacked materialization
    * cascade stores all three — broadcast(stats) stores stats, the
    * broadcast(cbByJ) collection computes subs → grid and stores both —
    * instead of paying one dedicated materialization job per frame
    * (3 fewer jobs per index build; §1.2 job-count). Every later
    * reference (LUT, re-rank fetch, probes, serving batches) reads the
    * same stored blocks as before. Safe because no single job computes
    * any of these frames through two plan branches (the sigIndex
    * lazy-cache race does not apply: sets self-joins, these chain). */
  private[graft] def buildIndex(s: SparkSession, d: String): PqIndex = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val stats = gridStats(e).localCheckpoint(eager = false)
    // grid / subvectors materialized once: encode, LUT, and the exact
    // audit all read the stored blocks (production stores the codes)
    val grid = applyGrid(e, stats).localCheckpoint(eager = false)
    val subs = grid.select(col("vec_id"), explode(expr(SubSplitExpr)).as("x"))
      .select(col("vec_id"), col("x.j").as("j"), col("x.sub").as("sub"))
      .localCheckpoint(eager = false)
    val cw = subs.filter(col("vec_id") < CodebookSize)
      .select(col("j"), col("vec_id").as("cw_id"), col("sub").as("cwv"))
    // encode: nearest codeword per (vector, subspace); ties by cw_id.
    // The codebook collapses to ONE row per subspace (flattened
    // cw_id-ordered codewords), broadcast onto the n·m subvector rows,
    // and the native pq_code expression scans all 256 codewords in one
    // codegen'd loop — the n·m·256 candidate rows of the join
    // formulation never materialize (that shape measured 9.1 s through
    // interpreted zip_with folds; this is the (b)-tier promotion, like
    // vector_dot before it). Codes are stored POSITIONAL (index into
    // the cw_id-sorted codeword list, which pq_code's smallest-index
    // tiebreak makes identical to the oracle's arg_min-by-(dist, cw_id)
    // choice) and packed one array<int> row per vector, so the ADC
    // tier reads bytes-per-vector instead of m rows per vector.
    val cbByJ = cw.groupBy("j").agg(
      expr("flatten(transform(array_sort(collect_list(struct(cw_id, cwv))), s -> s.cwv))")
        .as("cbflat"))
    // EXPLICIT repartition before the checkpoint: the packed-code rows
    // are tiny (a 20k-vector corpus is <1 MB), so AQE's byte-based
    // coalescing folds the groupBy exchange to ONE partition — and
    // localCheckpoint FREEZES that layout, serializing every future
    // serving batch's ADC scan onto one task (measured: the whole sf1
    // micro-batch pinned at ~2.5 s on that single task, SERVEPROBE).
    // An explicit numPartitions is exempt from AQE coalescing; compute
    // parallelism is the corpus scan's requirement, not its byte size.
    val shufflePartitions = s.sessionState.conf.numShufflePartitions
    val codesPacked = subs.join(broadcast(cbByJ), Seq("j"))
      .withColumn("pos",
        graft.functions.IntVectorFunctions.pq_code(col("sub"), col("cbflat")))
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(j, pos))), s -> s.pos)")
        .as("codes"))
      .repartition(shufflePartitions, col("vec_id"))
      .localCheckpoint()
    // subspace-major full flatten: ONE row of m·k·d ints — the whole
    // codebook as a single broadcast literal for [[graft.functions.PqLut]]
    val cbAll = cbByJ.groupBy().agg(
      expr("flatten(transform(array_sort(collect_list(struct(j, cbflat))), s -> s.cbflat))")
        .as("cball"))
      .localCheckpoint(eager = false) // stored by serve's first LUT broadcast
    PqIndex(grid, cbAll, codesPacked, stats)
  }

  /** Serve a frame of gridded queries (query_id, qv) against a static
    * [[PqIndex]]: per-query fused-LUT, packed-ADC shortlist, exact
    * integer re-rank. Output: (query_id, rank, vec_id, adc_dist, l2),
    * rank ≤ K. This is THE serving path — q126 calls it for its batch
    * probes, [[graft.streaming.AnnServeStream]] calls it per
    * micro-batch, so stream/batch agreement is by construction.
    *
    * Shape: the LUT is ONE [[graft.functions.PqLut]] loop per query
    * over the broadcast codebook (m·k partials, array-packed); ADC is
    * codesPacked × broadcast(LUTs) with one [[graft.functions.PqAdc]]
    * lookup-sum per (vector, query) — the n·m·q joined rows and their
    * re-aggregation shuffle of the (subspace, code) equi-join
    * formulation never materialize (measured 6.7 s/500-query batch at
    * sf1 through the join; the arithmetic is identical). The shortlist
    * is a bounded-heap smallest-k aggregation ([[graft.functions.MinPairTopK]])
    * — partial state ≤ Shortlist pairs per query per map task, so the
    * shuffle carries q·Shortlist rows per partition, never the n·q
    * candidate rows a window sort would. */
  private[graft] def serve(queries: DataFrame, idx: PqIndex): DataFrame = {
    import graft.functions.IntVectorFunctions.{int_sqdist, pq_adc, pq_lut}
    // SERVING-SESSION CONFS (set at the serving entry points —
    // AnnServeStream.start — NOT here: a conf.set inside
    // a query builder would silently re-shape every later query in a
    // shared session, e.g. a bench sweep):
    //  - objectHashAggregate.sortBased.fallbackThreshold=4096: the
    //    shortlist agg's object-hash map falls back to SORT-based
    //    aggregation past 128 keys per partition (default) — a
    //    500-query micro-batch crosses that and the bounded-heap agg
    //    degenerates into sorting every ADC candidate row.
    //  - adaptive.coalescePartitions.enabled=false: AQE's byte-based
    //    coalescing sees the post-agg exchanges as "small" (tens of
    //    MB) and folds the heap-merge + re-rank stages into ONE task;
    //    the bytes are cost-dense (serialized heaps, per-row integer
    //    L2), and the fold serialized ~2.5 s of parallel work
    //    (ServeProbe at sf1: full batch 3.15 s → 0.81 s with
    //    coalescing off; SERVEPROBE.json).
    val lut = queries.crossJoin(broadcast(idx.cbAll))
      .select(col("query_id"), pq_lut(col("qv"), col("cball"), SubDim).as("lut"))
    // queries side LEFT (hinted broadcast ⇒ BuildLeft BNLJ — the same
    // "scan codes, probe broadcast LUTs" physical shape as the old
    // codes-left/BuildRight form) so the serve output Dataset binds to
    // the QUERY side's SparkSession: in streaming, micro-batch queries
    // live on the stream-private cloned session and the serving confs
    // set there must govern this plan's execution
    val adc = broadcast(lut).crossJoin(idx.codesPacked)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        pq_adc(col("codes"), col("lut")).as("adc_dist"))
    val shortlist = adc.groupBy("query_id")
      .agg(graft.functions.MinPairTopK.pair_topk(
        Shortlist, col("adc_dist"), col("vec_id")).as("top"))
      .select(col("query_id"), explode(col("top")).as("h"))
      .select(col("query_id"), col("h.vec_id").as("vec_id"),
        col("h.adc_dist").as("adc_dist"))
    // re-rank: fetch ONLY the shortlisted vectors (equi-join on
    // vec_id — at scale a point-lookup tier), exact integer L2
    val wRr = Window.partitionBy(col("query_id"))
      .orderBy(col("l2").asc, col("vec_id").asc)
    shortlist
      .join(idx.grid, Seq("vec_id"))
      .join(broadcast(queries.select(col("query_id"), col("qv").as("pqv"))),
        Seq("query_id"))
      .withColumn("l2", int_sqdist(col("pqv"), col("qv")))
      .withColumn("rank", row_number().over(wRr))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("vec_id"),
        col("adc_dist"), col("l2"))
  }

  /** The full PQ round-trip: encode, ADC top-k, exact-integer-L2
    * recall audit. Output: one row per (probe, ADC rank). */
  private[graft] def pqSearch(s: SparkSession, d: String): DataFrame = {
    val idx = buildIndex(s, d)
    val probes = idx.grid.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("qv").as("pqv"))
    val reranked = serve(
      probes.select(col("query_id"), col("pqv").as("qv")), idx)
    // exact ground truth on the SAME integer grid (the metric ADC
    // approximates), probes broadcast over the stored grid — the audit
    val exact = broadcast(probes)
      .join(idx.grid, col("vec_id") =!= col("query_id"))
      .withColumn("l2",
        graft.functions.IntVectorFunctions.int_sqdist(col("pqv"), col("qv")))
    val wEx = Window.partitionBy(col("query_id"))
      .orderBy(col("l2").asc, col("vec_id").asc)
    val exactTop = exact.withColumn("rn", row_number().over(wEx))
      .filter(col("rn") <= K)
      .select(col("query_id"), col("vec_id"), lit(1).as("in_exact"))
    val wq = Window.partitionBy(col("query_id"))
    reranked.join(exactTop, Seq("query_id", "vec_id"), "left")
      .withColumn("in_exact", coalesce(col("in_exact"), lit(0)))
      .withColumn("recall_hits", sum(col("in_exact")).over(wq).cast("int"))
      .select(col("query_id"), col("rank"), col("vec_id"),
        col("adc_dist"), col("l2"), col("in_exact"), col("recall_hits"))
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------
  // IVF-PQ (q130): coarse inverted file + PQ on RESIDUALS — the shape
  // a 100 TB vector store actually serves (FAISS IVFPQ): the coarse
  // quantizer prunes the corpus to nprobe cells, the byte codes rank
  // inside them, exact distance re-ranks the shortlist.
  // ---------------------------------------------------------------

  private[operators] val CoarseCells = 8
  private[operators] val NProbe = 4

  /** The full IVF-PQ round-trip on the integer grid: nearest-cell
    * assignment, residual PQ encode, nprobe-cell ADC search, exact
    * re-rank, recall audit vs the UNPARTITIONED exact top-k (so the
    * recall number prices the IVF pruning loss too, not just PQ).
    *
    * Scale shape: assignment is O(n·Kc) via one broadcast of Kc
    * centroids; codes are bytes-per-vector keyed by cell; the ADC join
    * is EQUI on (cell, subspace, code) — candidates never leave the
    * probed cells, so the candidate fraction is ~nprobe/Kc of the
    * corpus by construction. The per-(query, cell) LUT is
    * queries×nprobe×m×256 rows — broadcast here; at web scale it
    * co-partitions with the codes on cell_id, same plan shape. */
  private[graft] def ivfPqSearch(s: SparkSession, d: String): DataFrame = {
    // grid/assigned/subs pinned LAZILY (r22, same one-job cascade as
    // buildIndex): the eager `codes` checkpoint materializes subs ←
    // assigned ← grid through the trainIds/coarseFlat/cbByJ broadcast
    // collections — 3 fewer dedicated materialization jobs per run,
    // same stored blocks for every downstream reference.
    val grid = intGrid(s, d).localCheckpoint(eager = false)
    // rank-based coarse codebook (the q78 lesson: never `vec_id < k` —
    // an id predicate silently empties on offset corpora)
    val coarse = grid.orderBy(col("vec_id").asc).limit(CoarseCells)
      .select(col("vec_id").as("cell_id"), col("qv").as("cv"))
    // nearest-cell assignment through the native pq_code argmin over
    // the FLATTENED cell_id-ordered centroids (one codegen loop per
    // vector) — the n×Kc candidate rows + per-vector window of the
    // join formulation never materialize (the q126 (b)-tier promotion;
    // measured 3.9 s → the window shuffled n·Kc 64-int arrays).
    // pq_code ties break to the smallest index = smallest cell_id
    // (cellids is sorted), identical to the oracle's (cdist, cell_id)
    // row_number order.
    val coarseFlat = coarse.groupBy().agg(
      expr("flatten(transform(array_sort(collect_list(struct(cell_id, cv))), s -> s.cv))")
        .as("cellflat"),
      expr("transform(array_sort(collect_list(struct(cell_id, cv))), s -> s.cell_id)")
        .as("cellids"))
    val assigned = grid.crossJoin(broadcast(coarseFlat))
      .withColumn("cidx",
        graft.functions.IntVectorFunctions.pq_code(col("qv"), col("cellflat")))
      .select(col("vec_id"),
        element_at(col("cellids"), col("cidx") + 1).as("cell_id"),
        expr(s"zip_with(qv, slice(cellflat, cidx * ${M * SubDim} + 1, ${M * SubDim}), (x, y) -> x - y)")
          .as("rv"))
      .localCheckpoint(eager = false)
    // residual subvectors; codebooks train on the 256 lowest-id
    // residuals (rank-based again), one codebook per subspace
    val subs = assigned.select(col("vec_id"), col("cell_id"), explode(expr(
      s"transform(sequence(0, ${M - 1}), j -> struct(j AS j, slice(rv, j * $SubDim + 1, $SubDim) AS sub))")).as("x"))
      .select(col("vec_id"), col("cell_id"), col("x.j").as("j"), col("x.sub").as("sub"))
      .localCheckpoint(eager = false)
    val trainIds = assigned.orderBy(col("vec_id").asc).limit(CodebookSize)
      .select(col("vec_id"))
    val cw = subs.join(broadcast(trainIds), Seq("vec_id"))
      .select(col("j"), col("vec_id").as("cw_id"), col("sub").as("cwv"))
    val cbByJ = cw.groupBy("j").agg(
      expr("flatten(transform(array_sort(collect_list(struct(cw_id, cwv))), s -> s.cwv))")
        .as("cbflat"),
      expr("transform(array_sort(collect_list(struct(cw_id, cwv))), s -> s.cw_id)")
        .as("cbids"))
    val codes = subs.join(broadcast(cbByJ), Seq("j"))
      .withColumn("code", element_at(col("cbids"),
        graft.functions.IntVectorFunctions.pq_code(col("sub"), col("cbflat")) + 1))
      .select(col("vec_id"), col("cell_id"), col("j"), col("code"))
      .localCheckpoint()
    // queries probe their NProbe nearest cells; the LUT is built from
    // the query's residual AGAINST EACH PROBED CELL's centroid — the
    // asymmetric-distance contract under residual encoding
    val probes = grid.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("qv").as("pqv"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist").asc, col("cell_id").asc)
    val probed = probes.crossJoin(broadcast(coarse))
      .withColumn("cdist",
        graft.functions.IntVectorFunctions.int_sqdist(col("pqv"), col("cv")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= NProbe)
      .select(col("query_id"), col("cell_id"),
        expr("zip_with(pqv, cv, (x, y) -> x - y)").as("qr"))
    val qrsubs = probed.select(col("query_id"), col("cell_id"), explode(expr(
      s"transform(sequence(0, ${M - 1}), j -> struct(j AS j, slice(qr, j * $SubDim + 1, $SubDim) AS sub))")).as("x"))
      .select(col("query_id"), col("cell_id").as("lcell"), col("x.j").as("j"),
        col("x.sub").as("qsub"))
    val lut = qrsubs.join(broadcast(cw), Seq("j"))
      .select(col("query_id"), col("lcell"), col("j").as("lj"),
        col("cw_id"),
        graft.functions.IntVectorFunctions.int_sqdist(col("qsub"), col("cwv")).as("pd"))
    // ADC restricted to probed cells: equi-join on (cell, subspace, code)
    val adc = codes.join(broadcast(lut),
        codes("cell_id") === lut("lcell") && codes("j") === lut("lj") &&
          codes("code") === lut("cw_id") && codes("vec_id") =!= lut("query_id"))
      .groupBy(col("query_id"), codes("vec_id").as("vec_id"),
        codes("cell_id").as("cell_id"))
      .agg(sum(col("pd")).as("adc_dist"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
    val shortlist = adc.withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= Shortlist)
    // exact-integer re-rank of the shortlist (point-lookup fetch tier)
    val wRr = Window.partitionBy(col("query_id"))
      .orderBy(col("l2").asc, col("vec_id").asc)
    val reranked = shortlist
      .join(grid, Seq("vec_id"))
      .join(broadcast(probes), Seq("query_id"))
      .withColumn("l2",
        graft.functions.IntVectorFunctions.int_sqdist(col("pqv"), col("qv")))
      .withColumn("rank", row_number().over(wRr))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cell_id"),
        col("adc_dist"), col("l2"))
    // ground truth over the WHOLE grid — recall prices IVF + PQ jointly
    val exact = broadcast(probes)
      .join(grid, col("vec_id") =!= col("query_id"))
      .withColumn("l2",
        graft.functions.IntVectorFunctions.int_sqdist(col("pqv"), col("qv")))
    val wEx = Window.partitionBy(col("query_id"))
      .orderBy(col("l2").asc, col("vec_id").asc)
    val exactTop = exact.withColumn("rn", row_number().over(wEx))
      .filter(col("rn") <= K)
      .select(col("query_id"), col("vec_id"), lit(1).as("in_exact"))
    val wq = Window.partitionBy(col("query_id"))
    reranked.join(exactTop, Seq("query_id", "vec_id"), "left")
      .withColumn("in_exact", coalesce(col("in_exact"), lit(0)))
      .withColumn("recall_hits", sum(col("in_exact")).over(wq).cast("int"))
      .select(col("query_id"), col("rank"), col("vec_id"), col("cell_id"),
        col("adc_dist"), col("l2"), col("in_exact"), col("recall_hits"))
      .orderBy("query_id", "rank")
  }

  private def ivfPqOracleSql: String = {
    def sq(a: String, b: String, n: Int): String =
      s"CAST(list_sum(list_transform(range($n), " +
        s"i -> CAST($a[i+1] - $b[i+1] AS BIGINT) * ($a[i+1] - $b[i+1]))) AS BIGINT)"
    s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      x AS (SELECT vec_id, unnest(list_transform(range(len(emb)),
          i -> {'dim': i, 'v': emb[i+1]})) AS u FROM e),
      st AS (SELECT u.dim AS dim, min(u.v) AS mn, max(u.v) AS mx FROM x GROUP BY u.dim),
      cb AS (SELECT list(mn ORDER BY dim) AS mins, list(mx ORDER BY dim) AS maxs FROM st),
      grid AS (SELECT vec_id, list_transform(range(len(emb)), i -> CAST(CASE
          WHEN maxs[i+1] > mins[i+1]
          THEN round((emb[i+1] - mins[i+1]) / (maxs[i+1] - mins[i+1]) * 255)
          ELSE 0 END AS INT)) AS qv
        FROM e, cb),
      coarse AS (SELECT vec_id AS cell_id, qv AS cv FROM grid
        ORDER BY vec_id LIMIT $CoarseCells),
      assigned AS (SELECT vec_id, cell_id,
          list_transform(range(${M * SubDim}), i -> qv[i+1] - cv[i+1]) AS rv
        FROM (SELECT g.vec_id, c.cell_id, g.qv, c.cv,
            row_number() OVER (PARTITION BY g.vec_id
              ORDER BY ${sq("g.qv", "c.cv", M * SubDim)}, c.cell_id) AS crn
          FROM grid g CROSS JOIN coarse c) t WHERE crn = 1),
      subs AS (SELECT vec_id, cell_id, j,
          rv[j * $SubDim + 1 : j * $SubDim + $SubDim] AS sub
        FROM assigned, unnest(range($M)) s(j)),
      tids AS (SELECT vec_id FROM assigned ORDER BY vec_id LIMIT $CodebookSize),
      cw AS (SELECT j, s.vec_id AS cw_id, sub AS cwv
        FROM subs s JOIN tids USING (vec_id)),
      enc AS (SELECT s.vec_id, s.cell_id, s.j, c.cw_id,
          ${sq("s.sub", "c.cwv", SubDim)} AS dist
        FROM subs s JOIN cw c ON s.j = c.j),
      codes AS (SELECT vec_id, cell_id, j,
          arg_min(cw_id, dist * $CodebookSize + cw_id) AS code
        FROM enc GROUP BY vec_id, cell_id, j),
      probes AS (SELECT vec_id AS query_id, qv AS pqv FROM grid WHERE vec_id % 100 = 0),
      probed AS (SELECT query_id, cell_id,
          list_transform(range(${M * SubDim}), i -> pqv[i+1] - cv[i+1]) AS qr
        FROM (SELECT p.query_id, c.cell_id, p.pqv, c.cv,
            row_number() OVER (PARTITION BY p.query_id
              ORDER BY ${sq("p.pqv", "c.cv", M * SubDim)}, c.cell_id) AS prn
          FROM probes p CROSS JOIN coarse c) t WHERE prn <= $NProbe),
      qrsubs AS (SELECT query_id, cell_id AS lcell, j,
          qr[j * $SubDim + 1 : j * $SubDim + $SubDim] AS qsub
        FROM probed, unnest(range($M)) s(j)),
      lut AS (SELECT q.query_id, q.lcell, q.j, c.cw_id,
          ${sq("q.qsub", "c.cwv", SubDim)} AS pd
        FROM qrsubs q JOIN cw c ON q.j = c.j),
      adc AS (SELECT l.query_id, co.vec_id, co.cell_id,
          CAST(sum(l.pd) AS BIGINT) AS adc_dist
        FROM codes co JOIN lut l
          ON co.cell_id = l.lcell AND co.j = l.j AND co.code = l.cw_id
        WHERE co.vec_id <> l.query_id
        GROUP BY l.query_id, co.vec_id, co.cell_id),
      short AS (SELECT query_id, vec_id, cell_id, adc_dist FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rn
          FROM adc) t WHERE rn <= $Shortlist),
      rr AS (SELECT s.query_id, CAST(rn AS INT) AS rank, s.vec_id, s.cell_id,
          s.adc_dist, l2 FROM (
          SELECT s.*, ${sq("p.qv", "g.qv", M * SubDim)} AS l2,
            row_number() OVER (PARTITION BY s.query_id
              ORDER BY ${sq("p.qv", "g.qv", M * SubDim)}, s.vec_id) AS rn
          FROM short s
          JOIN grid g ON s.vec_id = g.vec_id
          JOIN grid p ON s.query_id = p.vec_id) s WHERE rn <= $K),
      exact AS (SELECT p.vec_id AS query_id, g.vec_id, ${sq("p.qv", "g.qv", M * SubDim)} AS l2
        FROM grid p JOIN grid g ON g.vec_id <> p.vec_id
        WHERE p.vec_id % 100 = 0),
      exacttop AS (SELECT query_id, vec_id, 1 AS in_exact FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY l2, vec_id) AS rn
          FROM exact) t WHERE rn <= $K)
      SELECT query_id, rank, a.vec_id, cell_id, adc_dist, l2,
        coalesce(in_exact, 0) AS in_exact,
        CAST(sum(coalesce(in_exact, 0)) OVER (PARTITION BY query_id) AS INT) AS recall_hits
      FROM rr a LEFT JOIN exacttop e2 USING (query_id, vec_id)
      ORDER BY query_id, rank"""
  }

  private def oracleSql: String = {
    def sq(a: String, b: String, n: Int): String =
      s"CAST(list_sum(list_transform(range($n), " +
        s"i -> CAST($a[i+1] - $b[i+1] AS BIGINT) * ($a[i+1] - $b[i+1]))) AS BIGINT)"
    s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      x AS (SELECT vec_id, unnest(list_transform(range(len(emb)),
          i -> {'dim': i, 'v': emb[i+1]})) AS u FROM e),
      st AS (SELECT u.dim AS dim, min(u.v) AS mn, max(u.v) AS mx FROM x GROUP BY u.dim),
      cb AS (SELECT list(mn ORDER BY dim) AS mins, list(mx ORDER BY dim) AS maxs FROM st),
      grid AS (SELECT vec_id, list_transform(range(len(emb)), i -> CAST(CASE
          WHEN maxs[i+1] > mins[i+1]
          THEN round((emb[i+1] - mins[i+1]) / (maxs[i+1] - mins[i+1]) * 255)
          ELSE 0 END AS INT)) AS qv
        FROM e, cb),
      subs AS (SELECT vec_id, j, qv[j * $SubDim + 1 : j * $SubDim + $SubDim] AS sub
        FROM grid, unnest(range($M)) AS s(j)),
      cw AS (SELECT j, vec_id AS cw_id, sub AS cwv FROM subs WHERE vec_id < $CodebookSize),
      enc AS (SELECT s.vec_id, s.j, c.cw_id, ${sq("s.sub", "c.cwv", SubDim)} AS dist
        FROM subs s JOIN cw c ON s.j = c.j),
      codes AS (SELECT vec_id, j,
          arg_min(cw_id, dist * $CodebookSize + cw_id) AS code
        FROM enc GROUP BY vec_id, j),
      lut AS (SELECT s.vec_id AS query_id, s.j, c.cw_id, ${sq("s.sub", "c.cwv", SubDim)} AS pd
        FROM subs s JOIN cw c ON s.j = c.j WHERE s.vec_id % 100 = 0),
      adc AS (SELECT l.query_id, co.vec_id, CAST(sum(l.pd) AS BIGINT) AS adc_dist
        FROM codes co JOIN lut l ON co.j = l.j AND co.code = l.cw_id
        WHERE co.vec_id <> l.query_id
        GROUP BY l.query_id, co.vec_id),
      short AS (SELECT query_id, vec_id, adc_dist FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rn
          FROM adc) t WHERE rn <= $Shortlist),
      rr AS (SELECT s.query_id, CAST(rn AS INT) AS rank, s.vec_id, s.adc_dist, l2 FROM (
          SELECT s.*, ${sq("p.qv", "g.qv", M * SubDim)} AS l2,
            row_number() OVER (PARTITION BY s.query_id
              ORDER BY ${sq("p.qv", "g.qv", M * SubDim)}, s.vec_id) AS rn
          FROM short s
          JOIN grid g ON s.vec_id = g.vec_id
          JOIN grid p ON s.query_id = p.vec_id) s WHERE rn <= $K),
      exact AS (SELECT p.vec_id AS query_id, g.vec_id, ${sq("p.qv", "g.qv", M * SubDim)} AS l2
        FROM grid p JOIN grid g ON g.vec_id <> p.vec_id
        WHERE p.vec_id % 100 = 0),
      exacttop AS (SELECT query_id, vec_id, 1 AS in_exact FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY l2, vec_id) AS rn
          FROM exact) t WHERE rn <= $K)
      SELECT query_id, rank, a.vec_id, adc_dist, l2,
        coalesce(in_exact, 0) AS in_exact,
        CAST(sum(coalesce(in_exact, 0)) OVER (PARTITION BY query_id) AS INT) AS recall_hits
      FROM rr a LEFT JOIN exacttop e2 USING (query_id, vec_id)
      ORDER BY query_id, rank"""
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q126_ann_pq_adc",
      (s, d) => pqSearch(s, d),
      Some(oracleSql),
      doc = s"product-quantization ANN: m=$M×$SubDim-dim subspaces, $CodebookSize-entry fixed codebooks, packed-code ADC (fused LUT lookup-sum per vector, bounded-heap top-$Shortlist shortlist), exact-integer-L2 top-$K re-rank + recall audit in-query"),
    QueryDef(
      "q130_ann_ivf_pq",
      (s, d) => ivfPqSearch(s, d),
      Some(ivfPqOracleSql),
      doc = s"IVF-PQ ANN: $CoarseCells-cell coarse quantizer, residual PQ codes, $NProbe-probe ADC via (cell, subspace, code) equi-join, exact re-rank, recall audited vs the unpartitioned exact top-$K"))
}
