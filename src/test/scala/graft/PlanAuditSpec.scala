package graft

/** Machine-checked plan properties (builder prompt: "explain the plan
  * and iterate until it's the plan you'd want"). These pin the physical
  * shape the 100 TB posture depends on — pushdown, pruning, broadcast
  * selection, partial aggregation, whole-stage codegen — so a
  * regression in plan quality fails CI, not just the bench. */
class PlanAuditSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  private def executed(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02: filters reach the parquet scan (PushedFilters)") {
    val plan = executed("q02_filter_project")
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("GreaterThan(l_quantity,45.0"), plan)
  }

  test("q02: scan reads only the projected columns (column pruning)") {
    val plan = executed("q02_filter_project")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_shipdate"))
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_extendedprice"),
      readSchema)
  }

  test("q04: dimension join is a broadcast hash join") {
    val plan = executed("q04_join_part_revenue")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q01: aggregation is partial+final with whole-stage codegen") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    df.collect() // execute THIS plan so AQE finalizes + codegen shows
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), plan) // map-side combine
    assert(plan.contains("*("), plan) // whole-stage codegen stage markers
  }

  test("q07/q08: semi and anti joins plan as joins, not subquery loops") {
    assert(executed("q07_semi_join_big_lines").contains("LeftSemi"))
    assert(executed("q08_anti_join_customers").contains("LeftAnti"))
  }

  test("q03: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val plan = executed("q03_topk_orders")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q36: minhash aggregation is partial before the shuffle") {
    // q36's own executed plan only scans the localCheckpoint blocks, so
    // audit the un-checkpointed pipeline — the exact job sigIndex runs
    // to populate them
    val plan = operators.DedupQueries.minhashPipelineForAudit(spark, sf)
      .queryExecution.executedPlan.toString
    // partial min per hash function map-side: shuffle carries 8 strings
    // per doc, never the exploded shingle rows
    assert(plan.contains("partial_min") || plan.contains("partial_"), plan)
  }

  test("q36/q70: hash-heavy document pipelines fan out past the " +
    "single-row-group input (compute parallelism ≠ input splits)") {
    // a compacted parquet file is one split no matter the core count;
    // Tables.fanOut must keep the md5-dominant stages at the session's
    // shuffle parallelism (removing it re-serializes the whole MinHash
    // family onto one task — a measured 8-10× stage slowdown)
    // the groupBy exchange fixes the REDUCE-side width either way; the
    // fan-out shows as a round-robin exchange BELOW the hash stage
    val mhPlan = operators.DedupQueries.minhashPipelineForAudit(spark, sf)
      .queryExecution.executedPlan.toString
    assert(mhPlan.contains("RoundRobinPartitioning"), mhPlan)
    val wPlan = SparkEntry.queries("q70_winnowing")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(wPlan.contains("RoundRobinPartitioning"), wPlan)
  }

  test("q41: LSH candidates come from an equi join on the bucket key, " +
      "never a nested-loop pair scan") {
    val plan = executed("q41_ann_lsh_bucketed")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // signatures are fused vector_dot loops against literal planes —
    // no per-element md5 inside higher-order lambdas in the hot path
    assert(plan.contains("vector_dot"), plan)
    assert(!plan.contains("md5"), plan)
    // (the norm column's declarative fold is rewritten to vector_norm by
    // GraftExtensions in Bench/Verify sessions; this stock test session
    // shows the fold — VectorExpressionsSpec covers the rewrite)
  }

  test("q81: near-dup pair candidates stay an equi bucket join") {
    // the whole point of the LSH bucketing: candidates come from an
    // equi self-join on the bucket key (plus equi verify joins) —
    // never an all-pairs scan
    val plan = executed("q81_embedding_neardup_pairs")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q78: IVF probes via equi cell join; only the fixed-k centroid " +
      "assignment is a broadcast loop") {
    val plan = executed("q78_ann_ivf")
    // assignment: corpus × broadcast(k centroids), k constant — O(n·k)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    // probe: equi on centroid_id; and never a non-broadcast pair scan
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q104: multi-probe keeps the candidate join equi on centroid_id " +
      "(P multiplies only the broadcast query side)") {
    val plan = executed("q104_ann_ivf_multiprobe")
    // assignment + probe-list ranking: corpus × broadcast(k centroids)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    // probe: equi on centroid_id, never a pairwise scan of the corpus
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q108: the binned interval join is an equi join on the bin key — " +
      "never the nested loop the raw range predicate would plan") {
    val plan = executed("q108_interval_join_binned")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("q82: salted skew join remains an equi shuffle join") {
    val plan = executed("q82_salted_join")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q39: brute-force ANN streams the corpus past broadcast queries") {
    val plan = executed("q39_ann_bruteforce_topk")
    // the query side is the broadcast side; the corpus is never built
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("q85: the near-dup prune is one anti join, never a closure") {
    val plan = executed("q85_dedup_prune")
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q77: the cluster-size side never broadcasts, so the build side " +
      "does not follow which of the join's two shuffle stages ends first") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, NO_BROADCAST_HASH}
    try {
      val hints = SparkEntry.queries("q77_dedup_clusters")(spark, sf)
        .queryExecution.optimizedPlan.collect { case j: Join => j.hint }
      assert(hints.exists(_.rightHint.exists(_.strategy.contains(NO_BROADCAST_HASH))),
        hints)
    } finally SparkEntry.releaseCaches(spark)
  }

  test("q136: the cluster-size side never broadcasts, so the build side " +
      "does not follow which of the join's two shuffle stages ends first") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, NO_BROADCAST_HASH}
    try {
      val hints = SparkEntry.queries("q136_media_dedup_clusters")(spark, sf)
        .queryExecution.optimizedPlan.collect { case j: Join => j.hint }
      assert(hints.exists(_.rightHint.exists(_.strategy.contains(NO_BROADCAST_HASH))),
        hints)
    } finally SparkEntry.releaseCaches(spark)
  }

  test("q102: incremental dedup joins new bands against corpus bands " +
      "on the band key; the best-match window partitions per new doc") {
    val plan = executed("q102_incremental_dedup")
    // candidates are an equi join on the band key — never a cartesian
    assert(!plan.contains("CartesianProduct"), plan)
    // the keep-best window is per-new-doc, never a global single
    // partition over the candidate set
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("q87: the benchmark shingle set joins as the broadcast side") {
    // eval sets are KBs against a 100 TB corpus — the overlap join must
    // broadcast the benchmark shingles, never shuffle the corpus side
    // on the shingle key
    val plan = executed("q87_decontamination")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q90: k-means assignment is a fixed-k broadcast loop; the Lloyd " +
      "update aggregates map-side") {
    val df = SparkEntry.queries("q90_kmeans_lloyd")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // O(n·k) with k constant: centroids broadcast, corpus streamed
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the (cluster, dim) agg combines before its shuffle
    assert(plan.contains("partial_"), plan)
  }

  test("q92: packing windows are partitioned by stratum, never a " +
      "single global sort") {
    // a global greedy pack serializes the corpus through one partition;
    // the per-lang window must NOT plan an Exchange SinglePartition
    val plan = executed("q92_token_packing")
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("q83: the vocabulary guard picks broadcast under the cap, " +
      "sort-merge above it — and both shapes agree row-for-row") {
    val bcast = graft.operators.TextQueries.tfidfTopTerms(spark, sf)
    bcast.collect()
    val bcastPlan = bcast.queryExecution.executedPlan.toString
    assert(bcastPlan.contains("BroadcastHashJoin"), bcastPlan)

    // force the fallback: a zero cap means "vocabulary too big"
    val smj = graft.operators.TextQueries.tfidfTopTerms(spark, sf,
      maxBroadcastVocab = 0L)
    smj.collect()
    val smjPlan = smj.queryExecution.executedPlan.toString
    assert(smjPlan.contains("SortMergeJoin"), smjPlan)

    assert(bcast.collect().map(_.toString).toSeq ==
      smj.collect().map(_.toString).toSeq)
  }

  test("q93: top-20 plans as a parallel partial top-k; no " +
      "single-partition exchange ever carries the vocabulary") {
    val plan = executed("q93_vocab_coverage")
    // the token stream must partial-aggregate before any exchange
    assert(plan.contains("partial_"), plan)
    // the vocabulary is reduced by TakeOrderedAndProject (parallel
    // partial top-k), and the rank window consumes those 20 survivors
    // directly — never the full term counts
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert("Window [^\n]*\n[^\n]*TakeOrderedAndProject".r
      .findFirstIn(plan).isDefined, plan)
    // the only allowed single-partition exchange is the scalar `total`
    // rollup: its direct child must be a keyless partial aggregate
    // (one pre-combined row per partition on the wire, never raw vocab)
    var at = plan.indexOf("Exchange SinglePartition")
    while (at >= 0) {
      val eol = plan.indexOf('\n', at)
      val child = plan.substring(eol + 1, plan.indexOf('\n', eol + 1))
      assert(child.contains("HashAggregate(keys=[]") &&
        child.contains("partial_"), plan)
      at = plan.indexOf("Exchange SinglePartition", at + 1)
    }
  }

  test("q94: quantized search stays a broadcast probe loop over a " +
      "broadcast codebook — no cartesian, no code-side shuffle") {
    val plan = executed("q94_embedding_quantize")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q96: the unigram LM joins as a broadcast of the post-agg " +
      "vocabulary; the token stream partial-aggregates; the quartile " +
      "split never windows over one partition") {
    // the ntile step checkpoints, so the join/agg shape is audited on
    // the scoring frame it consumes
    val scored = graft.operators.CurationQueries.q96Scored(spark, sf)
    scored.collect()
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_"), plan)
    // the full query must not reintroduce a global window: no Window
    // operator and no single-partition exchange anywhere in its plan
    val df = SparkEntry.queries("q96_unigram_loglik")(spark, sf)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    assert(!full.contains("Exchange SinglePartition"), full)
    assert(!full.contains("Window"), full)
  }

  test("q113: simhash candidates come from an equi join on the block " +
      "key, signatures ride the block rows (no join-back), verify " +
      "precedes the distinct") {
    val plan = executed("q113_simhash_hamming_pairs")
    // one equi self-join on the block key ProbeFold.blockKeys builds —
    // never a cartesian over signatures
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("band#"), plan)
    // exactly ONE join: the hamming verify reads the block-row payload
    // instead of joining back to the signature index twice
    val joins = "Join".r.findAllIn(plan).size
    assert(joins <= 2, s"expected a single self-join (+exchange mentions), got:\n$plan")
    assert(plan.contains("bit_count"), plan)
  }

  test("q114: the bloom probe prunes the corpus shingles pre-shuffle " +
      "and the exact verify is a merge join, never a broadcast hash " +
      "relation of the benchmark") {
    val plan = executed("q114_decontam_bloom")
    assert(plan.contains("bloom_might_contain"), plan)
    assert(plan.contains("SortMergeJoin"), plan)
    // the overlap verify must not rebuild q87's broadcast: the whole
    // point is the benchmark side being too big to ship as a hash
    // relation. (The final per-doc totals join MAY also merge-join on
    // doc_id — assert the shingle-keyed merge join specifically.)
    val smjLines = plan.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smjLines.exists(_.contains("sh#")), smjLines.mkString("\n"))
  }

  test("q116: semantic dedup assigns cells via a broadcast codebook " +
      "loop and pairs via an equi join on the cell id — never " +
      "all-pairs; the keeper window is per flagged vector") {
    // the cell assignment checkpoints, so its O(n·k) broadcast shape
    // is audited on the un-checkpointed pipeline (the q36 pattern)
    val cellsPlan = graft.operators.SimilarityQueries.semanticCells(spark, sf)
      .queryExecution.executedPlan.toString
    assert(cellsPlan.contains("BroadcastNestedLoopJoin"), cellsPlan)
    assert(!cellsPlan.contains("CartesianProduct"), cellsPlan)
    val df = SparkEntry.queries("q116_semantic_dedup")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // within-cell candidate join is EQUI on cid (AQE may pick broadcast
    // hash at toy scale; what matters is the equi key, not the strategy)
    assert(plan.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("HashJoin")) && l.contains("cid#")), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // no global single-partition window anywhere
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("q118: the cluster-split assignment is one left join of corpus ids " +
      "against CC labels — no cartesian, no global window") {
    val df = SparkEntry.queries("q118_cluster_split")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    SparkEntry.releaseCaches(spark)
  }

  test("q119: multi-cell candidates stay an equi join on the cell id " +
      "with a scalar-column distinct — never all-pairs") {
    val df = SparkEntry.queries("q119_semantic_dedup_multicell")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("HashJoin")) && l.contains("cid#")), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    SparkEntry.releaseCaches(spark)
  }

  test("q120: the excision window join probes a bloom sketch and verifies " +
      "by merge join — NO broadcast hash relation anywhere in the plan") {
    val df = SparkEntry.queries("q120_decontam_excise_bloom")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), plan)
    // the shingle-keyed exact verify is a merge join
    val smjLines = plan.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smjLines.exists(_.contains("sh#")), smjLines.mkString("\n"))
    // the whole point: the benchmark is NOT broadcastable — no broadcast
    // hash relation may appear anywhere (the marks join merges too)
    assert(!plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    SparkEntry.releaseCaches(spark)
  }

  test("q126: PQ serving path — packed-code ADC probes broadcast " +
      "per-query LUTs (query-set build side), the shortlist is a " +
      "bounded-state object agg, the rerank fetches by vec_id; " +
      "nested-loops only ever carry query-set/1-row build sides") {
    val plan = executed("q126_ann_pq_adc")
    SparkEntry.releaseCaches(spark)
    assert(!plan.contains("CartesianProduct"), plan)
    // the rerank fetch (vec_id) / probe attach are hash equi-joins
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the bounded-heap shortlist runs as an object aggregate with a
    // partial (map-side) pass — ≤ Shortlist pairs per group per task
    assert(plan.contains("ObjectHashAggregate"), plan)
    // bounded-build nested-loops, all with query-set or 1-row build
    // sides: the 1-row flattened-codebook attach (LUT build), the ADC
    // probe of packed codes against the broadcast per-query LUTs, and
    // the probe-side exact-recall audit — never a corpus×corpus loop
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 3, s"unexpected nested-loop joins ($bnlj):\n$plan")
  }

  test("q130: IVF-PQ serving path is equi-join shaped — ADC joins codes " +
      "to the LUT by (cell, subspace, code); nested-loops are only the " +
      "bounded broadcast attaches (grid stats, Kc centroids ×2, audit)") {
    val plan = executed("q130_ann_ivf_pq")
    SparkEntry.releaseCaches(spark)
    assert(!plan.contains("CartesianProduct"), plan)
    // the ADC join and the shortlist/rerank fetches are hash equi-joins
    assert(plan.contains("BroadcastHashJoin"), plan)
    // bounded-build nested-loops: cell assignment (×coarse), probe-cell
    // selection (×coarse), the exact-recall audit (probes×grid), and
    // the one-row grid-stats attach — each with a fixed-k or probe-set
    // build side
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 4, s"unexpected nested-loop joins ($bnlj):\n$plan")
  }

  test("q132: the bigram model broadcasts back onto the corpus stream — " +
      "no corpus-sized shuffle beyond the model agg") {
    val plan = executed("q132_bigram_loglik")
    SparkEntry.releaseCaches(spark)
    // both model joins (bigram types, left-context totals) are
    // broadcast hash joins: the corpus bigram stream never shuffles on
    // the skewed word keys
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q138: curriculum packing plans no single-partition exchange — " +
      "quartiles ride the range-partitioned rank, packing windows are " +
      "(bucket, lang) lanes") {
    val plan = executed("q138_curriculum_packing")
    SparkEntry.releaseCaches(spark)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q129: the encoded vocabulary broadcasts onto the corpus word " +
      "stream; the apply chain stays vocabulary-sized") {
    val plan = executed("q129_bpe_encode_corpus")
    SparkEntry.releaseCaches(spark)
    // the per-doc pricing join is a broadcast of the encoded vocab —
    // the corpus-side explode never shuffles on the word key
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q151: the arrival-order running max never plans a global " +
      "window or a single-partition exchange") {
    // the naive form (`max() OVER (ORDER BY event_id)` with no
    // PARTITION BY) routes every event through one partition;
    // PrefixScan's decomposition must leave NO Window operator and NO
    // Exchange SinglePartition anywhere in the executed plan — the
    // cross-partition prefix rides a driver-side partitions-sized
    // array, not a plan node
    val df = SparkEntry.queries("q151_late_event_audit")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    SparkEntry.releaseCaches(spark)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q152: the profiler plans WITHOUT an Expand (per-column aggs, not multi-distinct)") {
    // the rewrite's claim: six per-column single-distinct aggs never
    // trigger Catalyst's EXPAND rewrite (7× row replication). If a
    // future edit folds the distincts back into one Aggregate, this
    // trips before the bench does.
    val plan = executed("q152_column_profile")
    assert(!plan.contains("Expand"), plan)
  }

  test("q159: the island windows share one user_id shuffle+sort (no exchange between them)") {
    // the running sum consumes the lag's change flag, so Spark plans
    // two Window execs — but both declare the same
    // partitionBy(user_id) ORDER BY (ts, event_id) spec, so the
    // second must sit DIRECTLY on the first with no Exchange or Sort
    // between: the full-size event scan shuffles exactly once, the
    // single-shuffle claim in the query's scaladoc.
    val df = SparkEntry.queries("q159_state_intervals")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    SparkEntry.releaseCaches(spark)
    val lines = plan.linesIterator.toVector
    val sumIdx = lines.indexWhere(l => l.contains("Window") && l.contains("sum(chg"))
    val lagIdx = lines.indexWhere(l => l.contains("Window") && l.contains("lag(event_type"))
    assert(sumIdx >= 0 && lagIdx > sumIdx, s"island windows not found/ordered:\n$plan")
    val between = lines.slice(sumIdx + 1, lagIdx)
    assert(!between.exists(l => l.contains("Exchange") || l.trim.startsWith("Sort")),
      s"extra exchange/sort between the island windows:\n${between.mkString("\n")}")
  }

  test("q162: classifier inference is shuffle-free up to the final sort") {
    // σ(w·x) scoring is a pure per-row map — the only Exchange the
    // plan may contain is the rangepartitioning for ORDER BY doc_id.
    val df = SparkEntry.queries("q162_quality_logistic")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    SparkEntry.releaseCaches(spark)
    val exchanges = plan.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, s"expected at most the orderBy exchange, got $exchanges\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("q165: item supports and user count reach the pair frame by broadcast") {
    val df = SparkEntry.queries("q165_association_rules")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    SparkEntry.releaseCaches(spark)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q181/q185/q187/q193/q195: statistics sums are fixed-point BIGINT " +
      "partial aggs — O(1) buffers, no collect_list in any agg") {
    // r13 verdict item 1: the ordered collect_list fold had an O(group
    // size) aggregation buffer (the whole group as one array in the agg
    // state) — correct at sf0.1, an executor-memory kill at 100×. The
    // fixed-point BIGINT form (floor(v·1e9) per row, plain sum) keeps
    // the buffer one long per cell AND partial-combines map-side.
    val stats = Seq("q181_budget_allocation", "q185_dim_covariance",
      "q187_grouped_regression", "q193_bootstrap_ci", "q195_calibration_bins")
    for (name <- stats) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // finalize AQE so the executed stages are real
      val plan = df.queryExecution.executedPlan.toString
      SparkEntry.releaseCaches(spark)
      assert(!plan.contains("collect_list"), s"$name still buffers a group array:\n$plan")
      // q185 (r21): the exploded sums collapsed into the single-pass
      // gram_sums aggregate — still fixed-point BIGINT cells with an
      // O(d²) buffer, still map-side partial-combined (partial_gram_sums)
      assert(plan.contains("partial_sum") || plan.contains("partial_gram_sums"),
        s"$name lost map-side combine:\n$plan")
    }
  }

  test("no query in the battery plans a non-broadcast cartesian product") {
    // the blanket 100 TB invariant: a CartesianProduct materializes
    // |L|×|R| with NO bounded build side — at scale that's a dead job
    // regardless of which query it hides in. (Broadcast nested-loop
    // joins are allowed: their build side is bounded by the broadcast
    // threshold or an explicit fixed-k hint, e.g. q78's centroid
    // assignment and q39's broadcast query set.)
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = executed(name)
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }
}
