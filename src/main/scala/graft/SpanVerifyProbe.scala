package graft

import graft.operators.DedupQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SPAN-FAMILY ORACLE IN THE HASHED-GRAM REGIME (r18 verdict item 2).
  *
  * q122/q128 key their 8-gram inverted index by `xxhash64(gram)`
  * instead of the raw ~45-byte string (the r18 super-linear fix). The
  * no-collision argument was probabilistic and hash-verified only to
  * sf1 (~5M grams); sf3/sf10 — ~14M/47M grams, precisely where the
  * hash was introduced — had bench evidence only. The full DuckDB twin
  * is impractically slow there, so this probe closes the gap with two
  * independent legs that together are COMPLETE, not just sampled:
  *
  *  1. **Injectivity census** (full corpus): count distinct raw gram
  *     STRINGS vs distinct `xxhash64` values over the whole scale
  *     point. Equal counts ⟹ the hash is injective on the realized
  *     gram set ⟹ every groupBy/join on the hash key (the DF cap's
  *     aggregate, the semi-join prune, the pair self-join) partitions
  *     rows EXACTLY as the string key would — a formal equivalence for
  *     this corpus, not an estimate. (Note the census is load-bearing
  *     for BOTH directions on q128: equal strings always hash equal,
  *     so the un-capped q122 index can never LOSE a match — but under
  *     q128's document-frequency cap a collision could inflate a
  *     gram's df past the cap and prune a TRUE gram, losing a real
  *     pair. The no-loss guarantee for q128 therefore follows from
  *     the census proving zero collisions, not from hash
  *     monotonicity — do not relax leg 1 to a sample.)
  *
  *  2. **Sampled-pair string re-verify + no-span controls**: a
  *     deterministic sample of emitted q122/q128 pairs is recomputed
  *     end-to-end with RAW STRING grams (same algorithm, string keys,
  *     corpus restricted to the sampled docs; q128's kept-gram set
  *     recomputed from the full-corpus STRING document frequencies)
  *     and must reproduce `max_shared_span` exactly; a control set of
  *     non-emitted pairs must show string-side spans < 12. This
  *     exercises the whole pipeline shape, independent of leg 1.
  *
  * Usage: runMain graft.SpanVerifyProbe [sfDir] [outJson] [sampleK]
  * Defaults: target/sf3 SPANVERIFY.json 400
  */
object SpanVerifyProbe {

  /** Positional 8-gram index with RAW STRING keys — [[DedupQueries
    * .spanGramIndex]] minus the xxhash64 (and minus the fan-out: the
    * probe restricts to sampled docs before any join). */
  private def stringGramIndex(corpus: DataFrame): DataFrame = corpus
    .withColumn("ts", split(col("text"), "\\s+"))
    .filter(size(col("ts")) >= 8)
    .select(col("doc_id"), explode(expr(
      "transform(sequence(0, size(ts) - 8), i -> struct(i AS pos, concat_ws(' ', slice(ts, i + 1, 8)) AS gram))")).as("g"))
    .select(col("doc_id"), col("g.pos").as("pos"), col("g.gram").as("gram"))

  /** String-side max shared span for an explicit pair list (no ≥ 12
    * filter — controls need the sub-threshold values too). `kept`
    * mirrors q128's DF-cap prune, computed from STRING grams. */
  private def stringSpansForPairs(corpus: DataFrame, pairs: DataFrame,
      kept: Option[DataFrame]): DataFrame = {
    val docs = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val idx0 = stringGramIndex(corpus.join(broadcast(docs), Seq("doc_id"), "left_semi"))
    val idx = kept.fold(idx0)(k => idx0.join(k, Seq("gram"), "left_semi"))
      .localCheckpoint()
    val matches = idx.select(col("gram"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(idx.select(col("gram"), col("doc_id").as("doc_b"), col("pos").as("pb")),
        Seq("gram"))
      .join(broadcast(pairs), Seq("doc_a", "doc_b"))
      .withColumn("diff", col("pa") - col("pb"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diff"))
      .orderBy(col("pa"))
    matches
      .withColumn("runkey", col("pa") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diff", "runkey")
      .agg((count(lit(1)) + 7).as("span"))
      .groupBy("doc_a", "doc_b")
      .agg(max(col("span")).as("string_span"))
  }

  /** Deterministic pseudo-random sample of K rows (md5-ordered — the
    * battery's seedless retry-stable convention). */
  private def sampleK(df: DataFrame, k: Int): DataFrame =
    df.orderBy(md5(concat_ws(":", col("doc_a"), col("doc_b"))).asc,
      col("doc_a").asc, col("doc_b").asc).limit(k)

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("target/sf3")
    val outJson = args.lift(1).getOrElse("SPANVERIFY.json")
    val k = args.lift(2).map(_.toInt).getOrElse(400)
    val spark = GraftSession.local(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val corpus = DedupQueries.variantCorpus(spark, sfDir)

    // ---- leg 1: injectivity census over the FULL scale point.
    // One aggregate per distinct gram (count + per-doc df reused for
    // q128's string-side kept set), then distinct-hash-of-distinct-
    // string: equality proves zero collisions on this corpus.
    val dfCounts = stringGramIndex(corpus)
      .groupBy("gram").agg(count_distinct(col("doc_id")).as("df"))
      .localCheckpoint()
    val census = dfCounts.agg(
      count(lit(1)).as("distinct_strings"),
      count_distinct(xxhash64(col("gram"))).as("distinct_hashes"),
      sum(col("df")).as("index_rows")).head()
    val nStr = census.getLong(0)
    val nHash = census.getLong(1)
    val idxRows = census.getLong(2)
    val injective = nStr == nHash
    println(s"SPANVERIFY census sf=$sfDir index_rows=$idxRows " +
      s"distinct_strings=$nStr distinct_hashes=$nHash injective=$injective")

    // ---- leg 2: sampled emitted pairs re-verified on string grams
    val keptStrings = dfCounts.filter(col("df") <= 4).select("gram")
    def verifyQuery(name: String, dfCap: Option[Int]): (Long, Long, Long, Long) = {
      val emitted = DedupQueries.sharedSpanPairs(spark, sfDir, dfCap)
        .localCheckpoint()
      val nEmitted = emitted.count()
      val sample = sampleK(emitted, k).localCheckpoint()
      val kept = dfCap.map(_ => keptStrings)
      val re = stringSpansForPairs(corpus,
        sample.select("doc_a", "doc_b"), kept)
      val mismatches = sample.join(re, Seq("doc_a", "doc_b"), "left")
        .filter(col("string_span").isNull ||
          col("string_span") =!= col("max_shared_span"))
        .count()
      // no-span controls: consecutive-id doc pairs never emitted (the
      // corpus has no planted spans between unrelated neighbors); the
      // string side must agree they are sub-threshold
      val controls = corpus.select(col("doc_id").as("doc_a"))
        .withColumn("doc_b", col("doc_a") + 1)
        .join(corpus.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
        .join(emitted.select("doc_a", "doc_b"), Seq("doc_a", "doc_b"), "left_anti")
      val ctrl = sampleK(controls, k).localCheckpoint()
      val nCtrl = ctrl.count()
      val falseAbsent = ctrl.join(
          stringSpansForPairs(corpus, ctrl, kept), Seq("doc_a", "doc_b"), "left")
        .filter(col("string_span") >= 12).count()
      println(s"SPANVERIFY $name emitted=$nEmitted sampled=${math.min(k, nEmitted)} " +
        s"span_mismatches=$mismatches controls=$nCtrl false_absences=$falseAbsent")
      (nEmitted, math.min(k.toLong, nEmitted), mismatches, falseAbsent)
    }
    // NOTE: no releaseCaches between legs — dfCounts/emitted/sample are
    // localCheckpoints and releasing them mid-probe invalidates blocks
    // later joins still read; the probe is one-shot, cleanup is exit
    val (e122, s122, m122, f122) = verifyQuery("q122_shared_span_pairs", None)
    val (e128, s128, m128, f128) = verifyQuery("q128_shared_span_capped", Some(4))

    val pass = injective && m122 == 0 && m128 == 0 && f122 == 0 && f128 == 0
    val line = s"""{"probe":"span_verify","sf":"$sfDir",""" +
      s""""index_rows":$idxRows,"distinct_strings":$nStr,""" +
      s""""distinct_hashes":$nHash,"injective":$injective,""" +
      s""""q122":{"emitted":$e122,"sampled":$s122,"span_mismatches":$m122,"false_absences":$f122},""" +
      s""""q128":{"emitted":$e128,"sampled":$s128,"span_mismatches":$m128,"false_absences":$f128},""" +
      s""""verdict":"${if (pass) "PASS" else "FAIL"}"}"""
    val w = new java.io.PrintWriter(outJson, "UTF-8")
    try w.println(line) finally w.close()
    println("SPANVERIFY " + line)
    spark.stop()
  }
}
