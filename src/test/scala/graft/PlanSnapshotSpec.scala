package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Effective-plan snapshots for the bench's most expensive queries.
  *
  * PlanAuditSpec pins invariants by substring (no SinglePartition, a
  * join must broadcast, …); this pins the WHOLE executed plan, so ANY
  * shape drift — a new exchange, a lost pushed filter, a join strategy
  * flip — diffs loudly in review instead of surfacing as a bench
  * regression two rounds later.
  *
  * Snapshots are the `.plan` files under `src/test/resources/plans`,
  * normalized:
  * expression/plan ids, codegen ids, and data paths are volatile and
  * masked before comparison. To bless an INTENDED shape change, re-run
  * with `SPARK_GRAFT_BLESS_PLANS=1` and commit the diff — the point is
  * that the diff is seen, not that the plan never changes.
  */
class PlanSnapshotSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  // the most expensive queries of the standing bench (the BENCH_r07 /
  // BASELINE.md anchor top-10, plus q102 which joined the top tier on
  // arrival) — where an unnoticed shape drift costs most
  private val targets = Seq(
    "q77_dedup_clusters",
    "q102_incremental_dedup",
    "q85_dedup_prune",
    "q81_embedding_neardup_pairs",
    "q96_unigram_loglik",
    "q41_ann_lsh_bucketed",
    "q37_dedup_jaccard_verify",
    "q36_dedup_minhash_lsh",
    "q82_salted_join",
    "q70_winnowing",
    "q87_decontamination",
    // round-10 arrivals in the expensive tier
    "q113_simhash_hamming_pairs",
    "q116_semantic_dedup",
    // round-11/12 arrivals in the expensive tier (q118/q121), plus the
    // three r11-flagged queries that had no snapshot when their timing
    // was disputed — shape pins make the next adjudication one diff
    "q118_cluster_split",
    "q121_split_manifest",
    "q122_shared_span_pairs",
    "q105_zorder_pruned_scan",
    "q111_boilerplate_ngrams",
    "q112_pmi_collocations",
    // round-13 arrivals in the expensive tier
    "q126_ann_pq_adc",
    "q128_shared_span_capped",
    "q129_bpe_encode_corpus",
    "q130_ann_ivf_pq",
    "q136_media_dedup_clusters")

  private val snapDir: Path = Paths.get("src", "test", "resources", "plans")
  private def bless: Boolean = sys.env.contains("SPARK_GRAFT_BLESS_PLANS")

  /** Mask volatile tokens: ids differ per session, paths per machine,
    * and in-memory relation/RDD numbers per run order. */
  private def normalize(plan: String): String =
    plan
      .replaceAll("#\\d+", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("\\bid=#x\\b", "id=#x")
      .replaceAll("WholeStageCodegen \\(\\d+\\)", "WholeStageCodegen (x)")
      .replaceAll("Scan ExistingRDD\\[", "Scan ExistingRDD[") // stable, listed for clarity
      .replaceAll("MapPartitionsRDD\\[\\d+\\]", "MapPartitionsRDD[x]")
      // AQE stage NUMBERS are assigned in materialization order, which
      // depends on what ran earlier in the session (stage reuse,
      // scheduling) — the stage KIND and tree position are the pinned
      // shape, the counter is not (observed: q130's BroadcastQueryStage
      // 6 vs 7 depending on suite order)
      .replaceAll("QueryStage \\d+", "QueryStage x")
      // same volatility for the per-operator codegen-stage prefix
      // `*(N)` — the codegen-unit counter shifts with AQE stage
      // materialization order; the STAR (inside codegen at all) is the
      // pinned property, not the counter
      .replaceAll("\\*\\(\\d+\\)", "*(x)")
      .replaceAll("SQLExecutionRDD\\[\\d+\\]", "SQLExecutionRDD[x]")
      // a literal array rendered as its JVM object (e.g. the constant
      // sequence(0, m-1) inside the shared subvector-split transform)
      // prints an identity hash that differs every run
      .replaceAll("@[0-9a-f]+", "@x")
      // synthetic lambda class names (typed groupByKey's AppendColumns
      // key extractor) carry a JVM-assigned counter + hidden-class
      // address that differ every run
      .replaceAll("\\$\\$Lambda\\$?\\d*/0x[0-9a-f]+", "\\$\\$Lambda\\$x")
      .replaceAll("\\[\\d+\\] at \\w+ at [^,\\]]*", "[x]")
      .replaceAll("file:[^,\\]\\s]+", "PATH")
      .replaceAll("/root/testdata[^,\\]\\s]*", "PATH")
      // the pruned-scan FILE COUNT varies with how a prior test wrote
      // the z-order layout (task parallelism sets file boundaries) —
      // the pinned claim is the scan+filter SHAPE, not the file count
      .replaceAll("InMemoryFileIndex\\(\\d+ paths\\)\\[[^\\]]*\\]", "InMemoryFileIndex(n paths)[PATH]")
      // Spark truncates long expression lists BEFORE normalization, so
      // the cutoff lands mid-token at a position that depends on raw
      // expression-id widths (#12 vs #1234) — collapse the partial
      // token so id-width drift can't move the truncation point
      .replaceAll("[A-Za-z0-9_#().]*\\.\\.\\.", "<trunc>...")
      .replaceAll("(?m)[ \\t]+$", "")
      .trim

  private def planOf(name: String): String = {
    // start from a released state: a chain frame memoized by an earlier
    // suite must not stand in for the one this query builds
    SparkEntry.releaseCaches(spark)
    // scan metadata (DataFilters etc.) truncates at a CHARACTER count,
    // so the cutoff position depends on raw expression-id widths and
    // drifts run-to-run; render it untruncated instead
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize AQE so the snapshot is the EFFECTIVE plan
    val s = df.queryExecution.executedPlan.toString
    SparkEntry.releaseCaches(spark)
    normalize(s)
  }

  targets.foreach { name =>
    test(s"executed plan snapshot: $name") {
      val file = snapDir.resolve(s"$name.plan")
      val got = planOf(name)
      if (bless || !Files.exists(file)) {
        Files.createDirectories(snapDir)
        Files.write(file, got.getBytes(StandardCharsets.UTF_8))
        info(s"blessed ${file.toString}")
      } else {
        val want = new String(Files.readAllBytes(file), StandardCharsets.UTF_8)
        if (got != want) {
          val gotLines = got.linesIterator.toVector
          val wantLines = want.linesIterator.toVector
          val firstDiff = gotLines.zipAll(wantLines, "<eof>", "<eof>")
            .indexWhere { case (a, b) => a != b }
          fail(
            s"""plan shape drift for $name (first diff at line ${firstDiff + 1}):
               |  expected: ${wantLines.lift(firstDiff).getOrElse("<eof>")}
               |  actual:   ${gotLines.lift(firstDiff).getOrElse("<eof>")}
               |If intended, bless with SPARK_GRAFT_BLESS_PLANS=1 and commit the
               |snapshot diff (src/test/resources/plans/$name.plan).""".stripMargin)
        }
      }
    }
  }
}
