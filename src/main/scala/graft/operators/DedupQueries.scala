package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.HintBridge

/** Deduplication operators over `documents` (north-star LLM-pipeline
  * surface): exact hash-groupBy, MinHash+LSH banding, LSH-candidate
  * n-gram Jaccard verification, and SimHash fingerprints.
  *
  * The synthetic corpus has no natural near-duplicates, so the near-dup
  * queries operate on a deterministic *variant corpus*: every document
  * unioned with a copy (doc_id + Ids.VariantOffset) whose first token is
  * dropped. That gives ~0.97-Jaccard pairs the pipeline must find —
  * derived purely from the driver tables, reproducible in the oracle.
  *
  * Scale design: MinHash signatures are per-row maps (no shuffle);
  * banding explodes to (bands × docs) rows and the candidate join is an
  * equi self-join on the band key — the classic shuffle-once LSH plan.
  * At 100 TB, band keys PLACE evenly across partitions (they are md5
  * outputs), but per-KEY fan-out is the corpus's to dictate: a
  * boilerplate crowd puts m near-identical docs in one band and m² in
  * its self-join, so the production chain caps per-band membership
  * ([[DefaultBandCap]], hot bands reduced to a min-id representative
  * star — see [[candidatePairsFrom]]),
  * and the Jaccard verification only touches candidate pairs, never
  * the n² cross product. Hash functions are 8-hex-char (32-bit) lanes carved
  * out of md5 digests (lexicographic min = minhash; disjoint substrings
  * of a crypto hash are independent), so Spark and the DuckDB oracle
  * agree bit-for-bit with zero UDFs at a quarter of the crypto calls.
  */
object DedupQueries {

  private val NumHashes = 8
  private val Bands = 4 // 2 rows per band
  // 4 lanes of 8 hex chars (32 bits) per md5 call: 2 crypto hashes per
  // shingle instead of 8, and the shuffle carries 8-char lane minima
  // instead of 32-char digests. md5 bits are uniform, so disjoint
  // substrings are independent hash functions — the standard way to
  // buy a k-lane MinHash family with k/4 strong hashes at scale.
  private val LanesPerMd5 = 4
  private val NumMd5 = NumHashes / LanesPerMd5

  // ONE definition each for the shingle and band-key expressions — the
  // batch (shingleSets/bandKeys) and per-row streaming (rowBands)
  // formulations must stay bit-for-bit aligned, and a string edited in
  // one copy but not the other would only surface as a runtime parity
  // failure (DedupStreamSpec), never at compile time.
  private val shingleExpr =
    "transform(sequence(0, size(ts) - 3), i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))"
  private val bandExpr =
    s"transform(sequence(0, ${Bands - 1}), b -> concat(b, ':', md5(concat(sig[2*b], sig[2*b+1]))))"

  /** The original documents, trimmed — the "already-ingested corpus"
    * side of the incremental flows. */
  private[graft] def originalDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), trim(col("text")).as("text"))

  /** First-token-dropped variants (doc_id + Ids.VariantOffset) — the
    * deterministic ~0.97-Jaccard "incoming batch". */
  private[graft] def variantDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select((col("doc_id") + Ids.VariantOffset).as("doc_id"),
      trim(expr("substring(text, instr(text, ' ') + 1)")).as("text"))

  /** corpus := documents ∪ first-token-dropped variants. */
  private[graft] def variantCorpus(s: SparkSession, d: String): DataFrame =
    originalDocs(s, d).unionByName(variantDocs(s, d))

  /** Per-doc 3-gram shingle arrays (deduplicated). Fanned out first:
    * the tokenize→shingle→(downstream md5×8) chain is the CPU-dominant
    * stage of the whole dedup family, and input splits alone cap it at
    * the row-group count (1 for the test corpus). */
  private def shingleSets(s: SparkSession, d: String): DataFrame =
    shingleSetsOf(variantCorpus(s, d))

  /** [[shingleSets]] over an arbitrary (doc_id, text) frame — the
    * entry point [[DedupIndex]] uses to hash a corpus and an incoming
    * batch SEPARATELY with the identical expression chain. */
  private[graft] def shingleSetsOf(docs: DataFrame): DataFrame =
    Tables.fanOut(docs)
      .withColumn("ts", split(col("text"), "\\s+"))
      .filter(size(col("ts")) >= 3)
      .withColumn("shingles", expr(shingleExpr))
      .select(col("doc_id"), array_distinct(col("shingles")).as("sd"))

  /** MinHash signatures derived from a shingle-set frame, computed in
    * the 100 TB-safe shape: explode to (doc, shingle) rows, hash each
    * shingle ONCE per hash function, shuffle-aggregate the mins. (The
    * per-row nested-array formulation `array_min(transform(shingles,
    * md5))` is O(rows × hashes × shingles) md5 calls *per downstream
    * reference* once projection collapse inlines it — measured 95 s at
    * sf0.1 vs ~3 s for this shape. Aggregation is also spill-safe for
    * giant documents.) Deriving from the deduplicated `sd` arrays is
    * exact: min over the distinct shingle set equals min over the raw
    * shingle sequence, so this matches the oracle's non-distinct
    * formulation bit-for-bit. */
  private[graft] def minhashFrom(sets: DataFrame): DataFrame = {
    val hashed = sets.select(col("doc_id"), explode(col("sd")).as("sh"))
    // two-step projection: digests once, then lane substrings. The
    // physical projection collapses both steps and whole-stage codegen's
    // common-subexpression elimination keeps each md5 evaluated once
    // even though 4 lanes reference it.
    val md5Cols = (0 until NumMd5)
      .map(j => md5(concat(lit(s"mh$j:"), col("sh"))).as(s"H$j"))
    val laneCols = for { j <- 0 until NumMd5; k <- 0 until LanesPerMd5 }
      yield substring(col(s"H$j"), 1 + 8 * k, 8).as(s"h${j * LanesPerMd5 + k}")
    val minCols = (0 until NumHashes).map(j => min(col(s"h$j")).as(s"m$j"))
    hashed
      .select(col("doc_id") +: md5Cols: _*)
      .select(col("doc_id") +: laneCols: _*)
      .groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(j => col(s"m$j")): _*).as("sig"))
  }

  /** Eagerly-materialized LSH signature index: ONE job runs the
    * text→shingle→md5→min pipeline and stores the narrow (doc_id, sig)
    * blocks; every downstream reference — both sides of the band
    * self-join, q37's verify joins, q77's CC edge list — reads the
    * stored blocks. A *lazy* `.cache()` here is wrong: the self-join's
    * two branches race to populate it concurrently, duplicating the
    * whole pipeline and serializing on block locks (measured 4 s →
    * 92 s at sf0.1 in the round-3 sweep, "Block already exists"
    * warnings). In production the index would be persisted to parquet
    * once ("persist the LSH index"); localCheckpoint is the in-process
    * equivalent. Bench and Verify unpersist all persistent RDDs
    * between queries, so nothing leaks into later measurements. */
  private[graft] def sigIndex(s: SparkSession, d: String): DataFrame = {
    // Resolve the sets memo BEFORE entering the sigs memo: a nested
    // computeIfAbsent on the same ConcurrentHashMap is undefined when
    // both keys land in one bin (JDK throws "Recursive update", or
    // silently unlinks the inner entry — lost memo + leaked checkpoint).
    val sets = shingleSetsCk(s, d)
    memoized(s, s"sigs:$d")(minhashFrom(sets).localCheckpoint())
  }

  /** The materialized variant-corpus shingle sets, memoized per
    * (session, dir) alongside [[sigIndex]] — composite queries
    * (q174's two blocking chains, q121's manifest+assignment, q146,
    * q201's sweep) re-enter the chain several times per run, and
    * before this memo each entry re-tokenized the corpus and re-ran
    * the hash pipeline into a fresh checkpoint (the round-15 verdict
    * priced the repeats). The memo holds exactly the two frames a
    * chain needs (sets, sigs); [[graft.SparkEntry.releaseCaches]]
    * clears it before unpersisting the checkpoint blocks, so nothing
    * leaks across queries in a sweep and no entry outlives its
    * truncated-lineage blocks. */
  private[graft] def shingleSetsCk(s: SparkSession, d: String): DataFrame =
    memoized(s, s"sets:$d")(shingleSets(s, d).localCheckpoint())

  private val chainMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def memoized(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    chainMemo.computeIfAbsent((s, key), _ => build)

  /** Drop the given session's memoized chain frames — MUST precede
    * unpersisting the checkpoint blocks the frames read from (a memo
    * hit after its blocks are gone cannot recompute: localCheckpoint
    * truncates lineage). Called by [[graft.SparkEntry.releaseCaches]].
    * Only that session's entries go, so releaseCaches(sparkA) in a
    * multi-session JVM (parallel test suites) cannot discard sparkB's
    * live frames while B's checkpoint blocks stay persisted. */
  private[graft] def clearChainMemo(s: SparkSession): Unit =
    chainMemo.keySet.removeIf(_._1 eq s)

  /** Audit hook: the minhash pipeline WITHOUT the materializing
    * checkpoints, so PlanAuditSpec can pin the partial-aggregation
    * shape of the job sigIndex actually runs (the checkpointed query's
    * own executed plan only shows the post-materialization scan). */
  private[graft] def minhashPipelineForAudit(s: SparkSession, d: String): DataFrame =
    minhashFrom(shingleSets(s, d))
  // (two-step: materializing the shingle sets BEFORE hashing keeps the
  // regex tokenizer out of the fused hash job — fusing them into one
  // checkpoint job measured 7.8 s vs 3 s at sf0.1, because projection
  // collapse re-evaluates the tokenize/shingle expressions per
  // downstream shingle reference inside the single fused stage)

  /** Exploded LSH band keys over the materialized signatures. */
  private[graft] def bandKeys(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      explode(expr(bandExpr)).as("band"))

  /** Per-row MinHash band keys for any (doc_id, text) frame — the SAME
    * hash family, lane carving, and banding as [[bandKeys]] over
    * [[sigIndex]] (bit-for-bit: min over the distinct shingle set under
    * identical lane substrings), but expressed as stateless per-row
    * columns: no explode-shuffle-agg, so a STRUCTURED STREAMING frame
    * can evaluate it without state or watermarks. The batch path keeps
    * the aggregate formulation (each shingle hashed once at corpus
    * scale); per-row here each doc hashes only its own shingles once
    * per md5 family — the right trade for per-batch streaming rows.
    * DedupStreamSpec proves the two formulations band-identical. */
  private[graft] def rowBands(docs: DataFrame): DataFrame =
    rowBandsWithSets(docs).select(col("doc_id"), col("band"))

  /** [[rowBands]] keeping the per-row shingle set alongside each band
    * key — the containment stream needs the arriving doc's `sd` for
    * the exact-intersection verify after the band probe. */
  private[graft] def rowBandsWithSets(docs: DataFrame): DataFrame = {
    val withSd = docs
      .withColumn("ts", split(trim(col("text")), "\\s+"))
      .filter(size(col("ts")) >= 3)
      .withColumn("sd", array_distinct(expr(shingleExpr)))
    val withDigests = (0 until NumMd5).foldLeft(withSd)((df, j) =>
      df.withColumn(s"H$j", expr(s"transform(sd, s -> md5(concat('mh$j:', s)))")))
    val sigCols = for { j <- 0 until NumMd5; k <- 0 until LanesPerMd5 }
      yield expr(s"array_min(transform(H$j, h -> substring(h, ${1 + 8 * k}, 8)))")
    withDigests
      .withColumn("sig", array(sigCols: _*))
      .select(col("doc_id"), col("sd"),
        explode(expr(bandExpr)).as("band"))
  }

  /** q118's assignment: every corpus doc keyed to its near-dup cluster
    * ROOT (q77's CC label for docs in any candidate pair, the doc's own
    * id for singletons), split by the SAME hash function as q109 —
    * exposed so SplitsAndBinsSpec audits the exact frame the query
    * emits. */
  private[graft] def clusterSplitAssignment(s: SparkSession, d: String): DataFrame =
    clusterSplitAssignmentOf(s, d, variantCorpus(s, d))

  /** [[clusterSplitAssignment]] restricted to an arbitrary subset of
    * the corpus. Cluster labels are still computed over the FULL
    * variant-corpus edge graph (a doc's root must not depend on which
    * subset asks), but only `docs` is scanned for the assignment join —
    * q121 passes the originals so the variant arm never reaches its
    * scan (at 100 TB a `filter`-after-union formulation would dead-scan
    * the whole variant side's id column before dropping every row). */
  private[graft] def clusterSplitAssignmentOf(
      s: SparkSession, d: String, docs: DataFrame): DataFrame = {
    val edges = candidatePairsFrom(sigIndex(s, d))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val cc = ConnectedComponents.run(edges)
    docs.select("doc_id")
      .join(cc.select(col("node").as("doc_id"), col("cluster")), Seq("doc_id"), "left")
      .withColumn("root", coalesce(col("cluster"), col("doc_id")))
      .select(col("doc_id"), col("root"), Splits.splitCol(col("root")).as("split"))
  }

  /** The q110 audit re-expressed over an ARBITRARY (doc_id, split)
    * assignment: candidate pairs whose sides straddle splits. ONE
    * definition serves the q110 oracle check (hash assignment, >0
    * rows) and the q118 remedy pin (cluster assignment, == 0 rows). */
  private[graft] def splitLeakage(s: SparkSession, d: String,
      assignment: DataFrame): DataFrame =
    candidatePairsFrom(sigIndex(s, d))
      .join(assignment.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        Seq("doc_a"))
      .join(assignment.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))

  /** Production per-band candidate cap. A band key shared by m
    * documents yields m(m−1)/2 candidate rows from that ONE key, and
    * md5-even *partition* placement does nothing about per-key fan-out:
    * a real corpus's boilerplate crowds (empty pages, templates, truncated
    * docs) put thousands of near-identical members in one band — the m²
    * skew mode that kills a 100 TB dedup run. The remedy: hot bands
    * (> cap members) keep exactly ONE representative row — the band's
    * min doc_id — on the capped side of the self-join, so an over-cap
    * band contributes a STAR of m−1 pairs centered on its rep instead
    * of m² (under-cap bands are untouched). Per-key join fan-out is
    * therefore ≤ max(cap², m) — linear in the band you already had to
    * read — while a boilerplate crowd still collapses to one cluster
    * through the star (round-15's drop-the-band form lost ALL pairs of
    * a NON-exact near-dup crowd whose every band was hot, the precise
    * recall gap the round-15 advice flagged; a crowd of exact twins is
    * additionally collapsed by the exact-hash pass, q35). Pair loss now
    * requires every shared band hot AND neither side the band rep. 64
    * never trips at fixture scale (max band population 20 at sf0.1), so
    * the q35-family hashes are unchanged — but every oracle mirrors the
    * cap (identical windowed rep-keep), so the capped semantics stay
    * hash-verified wherever they trip, and q203 verifies the tripping
    * regime end-to-end with cap = 4. */
  private[graft] val DefaultBandCap = 64

  /** The cap that DOES trip on the fixtures (bands of 6–20 members
    * exist at every SF) — q203's end-to-end tripping-regime check. */
  private[graft] val TrippingBandCap = 4

  /** Hot-band capped view of a (doc_id, band) frame: bands with ≤ cap
    * member rows pass through whole; bands over the cap keep exactly
    * one representative row, the band's min doc_id. ONE window pass —
    * count + row_number over the band partition — in the same
    * band-hashed shuffle the downstream band join needs anyway (no
    * separate aggregate job, no semi-join; the round-15 form re-ran a
    * band-count aggregate per chain entry). Used on the side of an
    * equi band join that plays the SURVIVOR role (doc_a /
    * dup_of / corpus), so a hot band still flags every probing or
    * higher-id member against the rep. */
  private[graft] def cappedBands(b: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy("band")
    b.withColumn("n_band", count(lit(1)).over(w))
      .withColumn("rn_band", row_number().over(w.orderBy("doc_id")))
      .filter(col("n_band") <= cap || col("rn_band") === 1)
      .drop("n_band", "rn_band")
  }

  /** Candidate near-dup pairs from band collisions over a
    * (materialized) signature frame: equi self-join on the band key —
    * the classic shuffle-once LSH plan — with the hot-band rep-keeping
    * cap applied by default ([[DefaultBandCap]]; `None` = uncapped, the
    * exact-LSH reference the capped plan is spec-compared against).
    * The capped side plays doc_a: a hot band's rep is its min doc_id,
    * so the star pairs (rep, x) all survive the doc_a < doc_b order
    * filter and the crowd stays one connected component for q77/q118. */
  private[graft] def candidatePairsFrom(sigs: DataFrame,
      bandCap: Option[Int] = Some(DefaultBandCap)): DataFrame = {
    val b0 = bandKeys(sigs)
    // cap ONE side only: the join is equi on band, so capping doc_a's
    // side alone bounds the per-key fan-out; the oracle's kept-rows
    // CTE joined against raw bands is the same one-sided form
    val left = bandCap.fold(b0)(cappedBands(b0, _))
    left.select(col("doc_id").as("doc_a"), col("band"))
      .join(b0.select(col("doc_id").as("doc_b"), col("band")), Seq("band"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  // -- q113 simhash-pair geometry: 64 signature bits carved from the
  //    first 16 hex chars of each token's md5 (4 bits per char), carried
  //    as 4 × 16-bit block ints h0..h3, [[ProbeFold]]'s Hamming block
  //    probe shape.
  private[graft] val SimhashBits = 64
  private[graft] val SimhashBlocks = 4

  /** Hex chars whose nibble has bit `j` set — ONE definition feeding
    * both the Spark when() chains and the oracle's CASE lists, so the
    * two engines' bit tables cannot drift. */
  private def nibbleCharsWithBit(j: Int): Seq[String] =
    (0 until 16).filter(v => ((v >> j) & 1) == 1).map(v => Integer.toHexString(v))

  /** (digest half "u"/"v", shift) locating signature bit `i` inside the
    * two conv-parsed 8-hex-char halves — ONE definition for the batch
    * aggregation ([[simhashBlockFrame]]) and the per-row streaming
    * formulation ([[rowBlocks]]); a bit table edited in one copy but
    * not the other would only surface as a runtime parity failure. Bit
    * i lives at hex char c = i/4+1 (nibble bit i%4), i.e. long position
    * (8-c)·4 + i%4 of the half the char falls in. */
  private def simhashBitPos(i: Int): (String, Int) = {
    val hexChar = i / 4 + 1 // 1-based position in the 16-hex-char prefix
    val (half, charInHalf) = if (hexChar <= 8) ("u", hexChar) else ("v", hexChar - 8)
    (half, (8 - charInHalf) * 4 + i % 4)
  }

  /** h0..h3 INT block columns folded from per-bit sign columns
    * b0..b63 — shared by both signature formulations. */
  private def simhashBlockCols: Seq[org.apache.spark.sql.Column] =
    (0 until SimhashBlocks).map { k =>
      (0 until 16).map(p => when(col(s"b${16 * k + p}") > 0, lit(1 << p)).otherwise(lit(0)))
        .reduce(_ + _).cast("int").as(s"h$k")
    }

  /** (doc_id, h0..h3) 64-bit simhash signature frame: one
    * token-explode aggregation (64 sums fused in one partial-agg pass),
    * then each 16-bit block folded into an INT.
    *
    * The per-token bit extraction parses the digest's two 8-hex-char
    * halves into longs ONCE (`conv`) and reads each signature bit with
    * a shift-and-mask — pure integer arithmetic in codegen, vs the
    * naive per-bit `substring(h, c, 1) IN (8 one-char strings)` chain
    * (512 string compares per token). The bit table is [[simhashBitPos]]
    * — the identical bit the oracle's readable CASE-list formulation
    * tests, so the engines agree bit-for-bit while compiling to
    * different instruction mixes. */
  private[graft] def simhashBlockFrame(docs: DataFrame): DataFrame = {
    val bitSums = (0 until SimhashBits).map { i =>
      val (half, pos) = simhashBitPos(i)
      sum(expr(s"cast(($half >> $pos) & 1L as int) * 2 - 1").cast("long")).as(s"b$i")
    }
    // fanned out: token explode + per-token md5/conv + the 64-column
    // partial agg over the corpus's 1-2 input splits was a ~0.9 s
    // two-task stage at sf0.1 (the shingleSets lesson)
    Tables.fanOut(docs)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .withColumn("h", md5(col("tok")))
      .withColumn("u", expr("cast(conv(substring(h, 1, 8), 16, 10) as bigint)"))
      .withColumn("v", expr("cast(conv(substring(h, 9, 8), 16, 10) as bigint)"))
      .groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id") +: simhashBlockCols: _*)
  }

  /** Per-row SimHash signatures (doc_id, h0..h3) of any (doc_id, text) frame — the SAME
    * 64-bit signature family as [[simhashBlockFrame]] (identical
    * [[simhashBitPos]] bit table, identical block fold), but expressed
    * as stateless per-row columns: the token digests become in-row
    * arrays and each bit's ±1 sum is an in-row `aggregate` fold, so a
    * STRUCTURED STREAMING frame can evaluate it without state or
    * watermarks — the simhash twin of [[rowBands]], keeping ingest-time
    * and backfill near-dup detection on ONE hash family for both
    * detectors. The batch path keeps the explode-aggregate formulation
    * (spill-safe for giant documents at corpus scale); per-row here
    * each doc folds only its own tokens — the right trade for
    * per-batch streaming rows. DedupStreamSpec proves the two
    * formulations signature-identical. */
  private[graft] def rowBlocks(docs: DataFrame): DataFrame = {
    val bitCols = (0 until SimhashBits).map { i =>
      val (half, pos) = simhashBitPos(i)
      expr(s"aggregate(${half}s, 0L, (a, x) -> a + cast((x >> $pos) & 1L as int) * 2 - 1)")
        .as(s"b$i")
    }
    docs
      .withColumn("hs", expr("transform(split(trim(text), '\\\\s+'), t -> md5(t))"))
      .withColumn("us",
        expr("transform(hs, h -> cast(conv(substring(h, 1, 8), 16, 10) as bigint))"))
      .withColumn("vs",
        expr("transform(hs, h -> cast(conv(substring(h, 9, 8), 16, 10) as bigint))"))
      .select(col("doc_id") +: bitCols: _*)
      .select(col("doc_id") +: simhashBlockCols: _*)
  }

  /** [[oracleBandsCte]] parameterized over the corpus SELECT — one
    * shingle/minhash/band oracle definition serving every corpus
    * variant (the q35-family's, q197's quote corpus). The SELECT must
    * yield (doc_id, text) with text already trimmed. */
  private[operators] def oracleBandsCteFor(corpusSelect: String): String = {
    val sig = (for { j <- 0 until NumMd5; k <- 0 until LanesPerMd5 }
      yield s"list_min(list_transform(shingles, s -> substr(md5('mh' || $j || ':' || s), ${1 + 8 * k}, 8)))")
      .mkString("[", ", ", "]")
    s"""WITH corpus AS ($corpusSelect),
    tok AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ts FROM corpus),
    sh AS (SELECT doc_id,
        list_transform(range(len(ts) - 2), i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]) AS shingles
      FROM tok WHERE len(ts) >= 3),
    mh AS (SELECT doc_id, shingles, $sig AS sig FROM sh),
    bands AS (SELECT doc_id, shingles,
        unnest(list_transform(range(${Bands}), b -> b || ':' || md5(sig[2*b+1] || sig[2*b+2]))) AS band
      FROM mh)"""
  }

  /** The variant-corpus SELECT — ONE definition for every oracle that
    * mirrors [[variantCorpus]]. */
  private[operators] val oracleVariantCorpusSelect: String =
    s"""
      SELECT doc_id, trim(text) AS text FROM documents
      UNION ALL
      SELECT doc_id + ${Ids.VariantOffset}, trim(substr(text, strpos(text, ' ') + 1)) FROM documents"""

  /** Shared oracle CTE prefix mirroring [[bandedCorpus]]. */
  private val oracleBandsCte: String = oracleBandsCteFor(oracleVariantCorpusSelect)

  /** Oracle mirror of [[cappedBands]]: the capped band ROWS — under-cap
    * bands whole, hot bands reduced to their min-doc_id representative
    * row (assumes the `bands` CTE is in scope). `name` parameterizes
    * the CTE label so two capped chains can coexist in one statement. */
  private[operators] def oracleKeptCte(cap: Int, name: String = "kept"): String =
    s"""$name AS (SELECT doc_id, band FROM (
          SELECT doc_id, band,
            count(*) OVER (PARTITION BY band) AS n_band,
            row_number() OVER (PARTITION BY band ORDER BY doc_id) AS rn_band
          FROM bands) WHERE n_band <= $cap OR rn_band = 1)"""

  /** Oracle mirror of [[candidatePairsFrom]] with the band cap applied:
    * capped rows on the doc_a side joined against the raw bands,
    * emitting the standard `cand(doc_a, doc_b)` CTE every dedup oracle
    * builds on. */
  private[operators] def oracleCandCte(cap: Int = DefaultBandCap): String =
    s"""${oracleKeptCte(cap)},
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM kept a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)"""

  /** The shared Jaccard/containment intersection expression, exposed
    * for the audit tier (q197) — assumes `sa`/`sb` alias [[oracleSetsCte]]. */
  private[operators] val oracleInterExpr: String =
    "len(list_filter(sa.sd, x -> list_contains(sb.sd, x)))"

  private[operators] val oracleSetsCteShared: String =
    "sets AS (SELECT doc_id, list_distinct(shingles) AS sd FROM sh)"

  /** q77's cluster formation as a reusable oracle chain: LSH candidate
    * pairs → undirected edges → recursive label spreading → min-label
    * components (CTE `cc` = (node, cluster)). Shared by q77 and q169
    * so cluster membership has ONE oracle definition. */
  private val oracleCcCtes: String =
    s"""${oracleBandsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
      ${oracleCandCte()},
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                UNION ALL SELECT doc_b, doc_a FROM cand),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      reach AS (SELECT node, node AS lbl FROM nodes
                UNION
                SELECT e.src AS node, r.lbl FROM edges e JOIN reach r ON e.dst = r.node),
      cc AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node)"""

  /** LSH-side verified near-dup pairs — q37's chain as a frame:
    * banded candidates from the signature index, exact-Jaccard
    * verify ≥ 0.5. (doc_a < doc_b, jaccard). Shared by q158's
    * provenance matrix and q174's method comparison. */
  private[operators] def lshVerified(s: SparkSession, d: String): DataFrame = {
    val sets = shingleSetsCk(s, d)
    val pairs = candidatePairsFrom(sigIndex(s, d))
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sd").as("sa")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sd").as("sb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** SNM-side verified pairs — q173's chain as a frame: suffix-keyed
    * global sort rank ([[GlobalRank.withRowIndex]]), window-of-2
    * neighbor equi-joins, exact-Jaccard verify ≥ 0.5.
    * (doc_a < doc_b, dist, jaccard). */
  private[operators] def snmVerified(s: SparkSession, d: String): DataFrame = {
    val corpus = variantCorpus(s, d)
    val keyed = corpus.select(col("doc_id"), expr("right(text, 40)").as("k"))
    val idx = GlobalRank
      .withRowIndex(keyed, Seq(col("k"), col("doc_id")), "rk")
      .select("doc_id", "rk").localCheckpoint()
    val nb = (1 to 2).map { dist =>
      idx.select(col("doc_id").as("da"), (col("rk") + dist).as("rk2"),
          lit(dist).as("dist"))
        .join(idx.select(col("doc_id").as("db"), col("rk").as("rk2")), Seq("rk2"))
    }.reduce(_ unionByName _)
    // corpus IS variantCorpus(s, d): reuse the chain-memoized sets so
    // q174 (both blocking chains in one run) tokenizes the corpus once
    val sets = shingleSetsCk(s, d)
    nb
      .join(sets.select(col("doc_id").as("da"), col("sd").as("sa")), Seq("da"))
      .join(sets.select(col("doc_id").as("db"), col("sd").as("sb")), Seq("db"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        col("dist"), col("jaccard"))
  }

  /** Shared oracle pieces for the verified-pair families (assume
    * `corpus`/`tok`/`sh` from [[oracleBandsCte]] are in scope). */
  private val oracleSetsCte: String =
    "sets AS (SELECT doc_id, list_distinct(shingles) AS sd FROM sh)"

  private val oracleJaccardExpr: String =
    """CAST(len(list_filter(sa.sd, x -> list_contains(sb.sd, x))) AS DOUBLE) /
       (len(sa.sd) + len(sb.sd) - len(list_filter(sa.sd, x -> list_contains(sb.sd, x))))"""

  private[operators] val oracleLshVerCte: String =
    s"""${oracleKeptCte(DefaultBandCap, "lshkept")},
      lshcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM lshkept a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
      lshver AS (SELECT doc_a, doc_b, jaccard FROM (
          SELECT doc_a, doc_b, $oracleJaccardExpr AS jaccard
          FROM lshcand JOIN sets sa ON lshcand.doc_a = sa.doc_id
                       JOIN sets sb ON lshcand.doc_b = sb.doc_id) t
        WHERE jaccard >= 0.5)"""

  private val oracleSnmVerCte: String =
    s"""keyed AS (SELECT doc_id, right(text, 40) AS k FROM corpus),
      idx AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS rk FROM keyed),
      nbp AS (SELECT a.doc_id AS da, b.doc_id AS db,
          CAST(b.rk - a.rk AS INT) AS dist
        FROM idx a JOIN idx b ON b.rk = a.rk + 1 OR b.rk = a.rk + 2),
      snmver AS (SELECT least(da, db) AS doc_a, greatest(da, db) AS doc_b,
          dist, jaccard FROM (
          SELECT da, db, dist, $oracleJaccardExpr AS jaccard
          FROM nbp JOIN sets sa ON nbp.da = sa.doc_id
                   JOIN sets sb ON nbp.db = sb.doc_id) t
        WHERE jaccard >= 0.5)"""

  /** q122/q128 core: exact cross-doc shared-span mining via the 8-gram
    * inverted-index self-join + per-(pair, offset) run-length collapse.
    * `dfCap = Some(c)` prunes grams appearing in more than `c` distinct
    * documents BEFORE the self-join (one semi-join against the surviving
    * gram set) — the web-scale hot-gram remedy, bounding the join's
    * per-key fan-out at the cost of spans that run through boilerplate
    * grams. `None` = exact over every gram (test-scale default). */
  /** The positional 8-gram inverted index feeding [[sharedSpanPairs]],
    * optionally DF-capped — separate so the cap's plan cost (exactly
    * one semi-join) is assertable BEFORE the checkpoint truncates the
    * lineage (SharedSpanSpec).
    *
    * The index key is `xxhash64(gram)`, not the gram string: the ~45
    * byte text 8-gram is materialized once per position and reduced to
    * a long BEFORE the checkpoint, so the checkpointed index, the
    * DF-cap's aggregate + semi join, and the downstream self-join all
    * move 8-byte keys instead of strings (at the sf10 probe point the
    * string index is ~47M rows / several GB — the r18 scale-decade
    * sweep measured the string version turning super-linear there,
    * +1.7/decade, from shuffle and aggregate pressure alone). Only doc
    * ids, positions and span lengths ever reach the output, so the
    * DuckDB oracle keeps joining raw gram strings and the correctness
    * gate proves output equality. A 64-bit collision can at worst seed
    * one false gram match between two docs; it becomes a false >= 12
    * span only if 5+ consecutive positions collide pairwise — vanishing
    * even at 10^10 grams (expected raw collisions n^2/2^64 ~ a handful,
    * never adjacent). This is the standard fingerprinting trade of the
    * winnowing family (q113/q128 already hash their shingles). */
  private[graft] def spanGramIndex(
      s: SparkSession, d: String, dfCap: Option[Int]): DataFrame = {
    val rawGrams = Tables.fanOut(variantCorpus(s, d))
      .withColumn("ts", split(col("text"), "\\s+"))
      .filter(size(col("ts")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ts) - 8), i -> struct(i AS pos, xxhash64(concat_ws(' ', slice(ts, i + 1, 8))) AS gram))")).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gram").as("gram"))
    dfCap match {
      case Some(cap) =>
        // kept-gram set, then ONE left-semi prune of the index. The
        // aggregation reuses the index's own (gram) shuffle key, and
        // pruning happens before the checkpoint so both join sides and
        // the verify read the already-thinned index.
        val kept = rawGrams.groupBy("gram")
          .agg(count_distinct(col("doc_id")).as("df"))
          .filter(col("df") <= cap)
          .select("gram")
        rawGrams.join(kept, Seq("gram"), "left_semi")
      case None => rawGrams
    }
  }

  private[graft] def sharedSpanPairs(
      s: SparkSession, d: String, dfCap: Option[Int]): DataFrame = {
    val grams = spanGramIndex(s, d, dfCap).localCheckpoint()
    val matches = grams.select(col("gram"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(grams.select(col("gram"), col("doc_id").as("doc_b"), col("pos").as("pb")),
        Seq("gram"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("diff", col("pa") - col("pb"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diff"))
      .orderBy(col("pa"))
    matches
      .withColumn("runkey", col("pa") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diff", "runkey")
      .agg((count(lit(1)) + 7).as("span"))
      .groupBy("doc_a", "doc_b")
      .agg(max(col("span")).as("max_shared_span"))
      .filter(col("max_shared_span") >= 12)
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB oracle twin of [[sharedSpanPairs]]; the cap is mirrored as
    * the same kept-gram semi-join so capped semantics hash-verify. */
  private[graft] def sharedSpanSql(dfCap: Option[Int]): String = {
    val gramSource = dfCap match {
      case Some(cap) => s"""
        kept AS (SELECT gram FROM grams0
          GROUP BY gram HAVING count(DISTINCT doc_id) <= $cap),
        grams AS (SELECT g.* FROM grams0 g JOIN kept USING (gram)),"""
      case None => """
        grams AS (SELECT * FROM grams0),"""
    }
    s"""WITH corpus AS (
        SELECT doc_id, trim(text) AS text FROM documents
        UNION ALL
        SELECT doc_id + ${Ids.VariantOffset}, trim(substr(text, strpos(text, ' ') + 1)) FROM documents),
      tok AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ts FROM corpus),
      grams0 AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
          array_to_string(ts[i + 1 : i + 8], ' ') AS gram
        FROM tok, unnest(range(len(ts) - 7)) AS s(i) WHERE len(ts) >= 8),$gramSource
      m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id),
      runs AS (SELECT doc_a, doc_b, pa - pb AS diff, pa,
          pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS runkey
        FROM m),
      spans AS (SELECT doc_a, doc_b, CAST(count(*) + 7 AS BIGINT) AS span
        FROM runs GROUP BY doc_a, doc_b, diff, runkey)
      SELECT doc_a, doc_b, max(span) AS max_shared_span
      FROM spans GROUP BY doc_a, doc_b
      HAVING max(span) >= 12 ORDER BY doc_a, doc_b"""
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- exact dedup: content-hash groupBy (one shuffle on the hash)
    QueryDef(
      "q35_dedup_exact",
      (s, d) => variantCorpus(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
        .orderBy("content_hash"),
      Some(s"""SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keeper
        FROM (SELECT doc_id, trim(text) AS text FROM documents
              UNION ALL
              SELECT doc_id + ${Ids.VariantOffset}, trim(substr(text, strpos(text, ' ') + 1)) FROM documents) c
        GROUP BY md5(text) ORDER BY content_hash""")),

    // ---- MinHash + LSH banding: candidate near-dup pairs
    QueryDef(
      "q36_dedup_minhash_lsh",
      (s, d) => candidatePairsFrom(sigIndex(s, d)).orderBy("doc_a", "doc_b"),
      Some(s"""$oracleBandsCte,
        ${oracleCandCte()}
        SELECT doc_a, doc_b FROM cand
        ORDER BY doc_a, doc_b""")),

    // ---- n-gram Jaccard verification of the LSH candidates (LSH → verify)
    QueryDef(
      "q37_dedup_jaccard_verify",
      (s, d) => {
        // One tokenize job (sets), one hashing job (sigs from the stored
        // sets) — then banding, the candidate join, and both verify join
        // sides all read stored blocks instead of re-running the text
        // pipeline per reference.
        val sets = shingleSetsCk(s, d)
        val pairs = candidatePairsFrom(sigIndex(s, d))
        pairs
          .join(sets.select(col("doc_id").as("doc_a"), col("sd").as("sa")), Seq("doc_a"))
          .join(sets.select(col("doc_id").as("doc_b"), col("sd").as("sb")), Seq("doc_b"))
          .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
          .withColumn("jaccard",
            col("inter").cast("double") / (size(col("sa")) + size(col("sb")) - col("inter")))
          .filter(col("jaccard") >= 0.5)
          .select("doc_a", "doc_b", "jaccard")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""$oracleBandsCte,
        ${oracleCandCte()},
        sets AS (SELECT DISTINCT doc_id, list_distinct(shingles) AS sd FROM sh)
        SELECT doc_a, doc_b,
          CAST(len(list_filter(sa.sd, x -> list_contains(sb.sd, x))) AS DOUBLE) /
            (len(sa.sd) + len(sb.sd) - len(list_filter(sa.sd, x -> list_contains(sb.sd, x)))) AS jaccard
        FROM cand JOIN sets sa ON cand.doc_a = sa.doc_id
                  JOIN sets sb ON cand.doc_b = sb.doc_id
        WHERE CAST(len(list_filter(sa.sd, x -> list_contains(sb.sd, x))) AS DOUBLE) /
            (len(sa.sd) + len(sb.sd) - len(list_filter(sa.sd, x -> list_contains(sb.sd, x)))) >= 0.5
        ORDER BY doc_a, doc_b""")),

    // ---- the hot-band cap's TRIPPING regime, end-to-end: q37's
    //      verified-pair chain under a cap the fixtures actually
    //      exceed (bands of 6–20 members exist at every SF, so the
    //      rep-keep window genuinely prunes here). The production chain
    //      runs [[DefaultBandCap]] = 64, which never trips at fixture
    //      scale — this query is the proof that when the cap DOES
    //      bite, both engines agree on exactly which pairs survive:
    //      the oracle applies the identical windowed rep-keep, so the
    //      capped semantics (a hot band contributes only its min-id
    //      rep's star; a pair is lost only when every shared band is
    //      hot and neither side is a band rep) are hash-verified, not
    //      aspirational. CappedLshSpec pins the set algebra (capped =
    //      cold-band pairs ∪ hot-band rep stars; a non-tripping cap is
    //      row-identical) and the plan shape (rep-keep window, no extra
    //      join).
    QueryDef(
      "q203_dedup_lsh_cap_tripped",
      (s, d) => {
        val sets = shingleSetsCk(s, d)
        val pairs = candidatePairsFrom(sigIndex(s, d), Some(TrippingBandCap))
        pairs
          .join(sets.select(col("doc_id").as("doc_a"), col("sd").as("sa")), Seq("doc_a"))
          .join(sets.select(col("doc_id").as("doc_b"), col("sd").as("sb")), Seq("doc_b"))
          .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
          .withColumn("jaccard",
            col("inter").cast("double") / (size(col("sa")) + size(col("sb")) - col("inter")))
          .filter(col("jaccard") >= 0.5)
          .select("doc_a", "doc_b", "jaccard")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""$oracleBandsCte,
        ${oracleCandCte(TrippingBandCap)},
        sets AS (SELECT DISTINCT doc_id, list_distinct(shingles) AS sd FROM sh)
        SELECT doc_a, doc_b,
          CAST(len(list_filter(sa.sd, x -> list_contains(sb.sd, x))) AS DOUBLE) /
            (len(sa.sd) + len(sb.sd) - len(list_filter(sa.sd, x -> list_contains(sb.sd, x)))) AS jaccard
        FROM cand JOIN sets sa ON cand.doc_a = sa.doc_id
                  JOIN sets sb ON cand.doc_b = sb.doc_id
        WHERE CAST(len(list_filter(sa.sd, x -> list_contains(sb.sd, x))) AS DOUBLE) /
            (len(sa.sd) + len(sb.sd) - len(list_filter(sa.sd, x -> list_contains(sb.sd, x)))) >= 0.5
        ORDER BY doc_a, doc_b"""),
      doc = "q37's LSH-verified pairs under a band cap that trips on the fixture: hot bands (> 4 members) reduced to their min-id representative's star before the candidate self-join, oracle-mirrored via the identical windowed rep-keep"),

    // ---- duplicate-cluster formation: connected components over the
    //      LSH candidate graph (pairs → clusters → keep min-id rep)
    QueryDef(
      "q77_dedup_clusters",
      (s, d) => {
        val edges = candidatePairsFrom(sigIndex(s, d))
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        val cc = ConnectedComponents.run(edges)
        // both sides are shuffle stages over the same labels, and AQE
        // re-plans the join when the FIRST of them completes: whichever
        // finished first was broadcast, so the build side followed task
        // timing. The sizes side never broadcasts; the labels side does
        // once its stage is in, whatever the completion order
        val sizes = HintBridge.noBroadcast(
          cc.groupBy("cluster").agg(count(lit(1)).as("cluster_size")))
        cc.join(sizes, Seq("cluster"))
          .select(col("node").as("doc_id"), col("cluster"), col("cluster_size"))
          .orderBy("doc_id")
      },
      Some(s"""$oracleCcCtes,
        sizes AS (SELECT cluster, count(*) AS cluster_size FROM cc GROUP BY cluster)
        SELECT cc.node AS doc_id, cc.cluster, sizes.cluster_size
        FROM cc JOIN sizes ON cc.cluster = sizes.cluster
        ORDER BY doc_id""")),

    // ---- MinHash sketch-quality audit (q146): the estimator the LSH
    //      family RESTS ON, audited in-query — per candidate pair, the
    //      Jaccard ESTIMATE from signature agreement (matching
    //      positions / 8, the MinHash unbiased estimator) against the
    //      exact set Jaccard, with the signed error. The ANN tier pins
    //      recall (q126/q130); this pins the sketch itself — the
    //      number that justifies the band thresholds. Reads the SAME
    //      stored index/sets blocks as q36/q37 (no recompute); the
    //      audit join shape is q37's.
    QueryDef(
      "q146_minhash_estimate_audit",
      (s, d) => {
        val sets = shingleSetsCk(s, d)
        val sigs = sigIndex(s, d)
        val pairs = candidatePairsFrom(sigs)
        pairs
          .join(sets.select(col("doc_id").as("doc_a"), col("sd").as("sa")), Seq("doc_a"))
          .join(sets.select(col("doc_id").as("doc_b"), col("sd").as("sb")), Seq("doc_b"))
          .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("ga")), Seq("doc_a"))
          .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("gb")), Seq("doc_b"))
          .withColumn("n_match_pos",
            expr("size(filter(zip_with(ga, gb, (x, y) -> x = y), b -> b))"))
          .withColumn("est_j", col("n_match_pos").cast("double") / 8.0)
          .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
          .withColumn("jaccard",
            col("inter").cast("double") / (size(col("sa")) + size(col("sb")) - col("inter")))
          .select(col("doc_a"), col("doc_b"),
            col("n_match_pos").cast("int").as("n_match_pos"),
            col("est_j"),
            round(col("jaccard"), 4).as("jaccard_r"),
            // signed error straddles zero — roundZ folds a −0.0 round
            QueryDef.roundZ(col("est_j") - col("jaccard"), 4).as("err_r"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""$oracleBandsCte,
        ${oracleCandCte()},
        sets AS (SELECT DISTINCT doc_id, list_distinct(shingles) AS sd FROM sh),
        sg AS (SELECT doc_id, sig FROM mh),
        j AS (SELECT doc_a, doc_b,
            len(list_filter(range(8), i -> ga.sig[i+1] = gb.sig[i+1])) AS n_match_pos,
            CAST(len(list_filter(sa.sd, x -> list_contains(sb.sd, x))) AS DOUBLE) /
              (len(sa.sd) + len(sb.sd) - len(list_filter(sa.sd, x -> list_contains(sb.sd, x)))) AS jaccard
          FROM cand
          JOIN sets sa ON cand.doc_a = sa.doc_id
          JOIN sets sb ON cand.doc_b = sb.doc_id
          JOIN sg ga ON cand.doc_a = ga.doc_id
          JOIN sg gb ON cand.doc_b = gb.doc_id)
        SELECT doc_a, doc_b, CAST(n_match_pos AS INT) AS n_match_pos,
          CAST(n_match_pos AS DOUBLE) / 8.0 AS est_j,
          round(jaccard, 4) AS jaccard_r,
          round(CAST(n_match_pos AS DOUBLE) / 8.0 - jaccard, 4) + 0.0 AS err_r
        FROM j ORDER BY doc_a, doc_b"""),
      doc = "MinHash estimator audit: per candidate pair, signature-agreement Jaccard estimate vs exact set Jaccard with signed error — the sketch-quality number behind the LSH thresholds"),

    // ---- near-dup pruning, the production keep-policy: drop every doc
    //      that has ANY smaller-id near-dup candidate; keep the rest.
    //      This is the transitive-closure-free policy real dedup
    //      pipelines run at scale (one anti join over the candidate
    //      pairs — no iterative CC): for a pair cluster it keeps
    //      exactly the min id; for a chain it may drop slightly more
    //      than one-per-cluster (each non-minimal link), the standard
    //      documented trade. q77 is the exhaustive cluster variant.
    QueryDef(
      "q85_dedup_prune",
      (s, d) => {
        val drops = candidatePairsFrom(sigIndex(s, d))
          .select(col("doc_b").as("doc_id")).distinct()
        variantCorpus(s, d).select("doc_id")
          .join(drops, Seq("doc_id"), "left_anti")
          .orderBy("doc_id")
      },
      Some(s"""$oracleBandsCte,
        ${oracleCandCte()}
        SELECT doc_id FROM corpus
        WHERE doc_id NOT IN (SELECT doc_b FROM cand)
        ORDER BY doc_id""")),

    // ---- incremental dedup: the NEW-BATCH-vs-CORPUS flow a crawl
    //      pipeline actually runs — never corpus×corpus. The variant
    //      docs (doc_id ≥ Ids.VariantOffset) play the incoming batch, the
    //      originals the already-ingested corpus. Candidates come from
    //      an lsh band equi-join of new bands against corpus bands
    //      only, Jaccard-verified, then each new doc keeps its best
    //      corpus match (highest jaccard, min-id tiebreak).
    //
    //      Scale: the corpus signature index is computed ONCE and
    //      PERSISTED through StateStore's crash-atomic generation
    //      protocol ([[DedupIndex.build]]); the batch flow
    //      ([[DedupIndex.dedupBatch]]) hashes only its own documents
    //      and joins |batch|-sized bands against the stored ledgers —
    //      the corpus text is never re-tokenized (DedupIndexSpec pins
    //      this at plan level across a fresh session) and
    //      corpus×corpus pairs are never generated. The best-match
    //      window partitions by new_id — per-doc groups, no global
    //      window. This query runs the FULL flow (build + batch) so
    //      the bench prices the real persistence, not a cache hit.
    QueryDef(
      "q102_incremental_dedup",
      (s, d) => {
        val dir = s"${sys.props("java.io.tmpdir")}/graft-q102-index-${
          java.lang.Integer.toHexString(d.hashCode)}"
        DedupIndex.build(s, originalDocs(s, d), dir)
        DedupIndex.dedupBatch(s, variantDocs(s, d), dir)
      },
      Some(s"""$oracleBandsCte,
        ikept AS (SELECT doc_id, band FROM (
            SELECT doc_id, band,
              count(*) OVER (PARTITION BY band) AS n_band,
              row_number() OVER (PARTITION BY band ORDER BY doc_id) AS rn_band
            FROM bands WHERE doc_id < ${Ids.VariantOffset})
          WHERE n_band <= $DefaultBandCap OR rn_band = 1),
        cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
          FROM bands n JOIN ikept c ON n.band = c.band
          WHERE n.doc_id >= ${Ids.VariantOffset}),
        sets AS (SELECT DISTINCT doc_id, list_distinct(shingles) AS sd FROM sh),
        ver AS (SELECT new_id, corpus_id,
            CAST(len(list_filter(sa.sd, x -> list_contains(sb.sd, x))) AS DOUBLE) /
              (len(sa.sd) + len(sb.sd) - len(list_filter(sa.sd, x -> list_contains(sb.sd, x)))) AS jaccard
          FROM cand JOIN sets sa ON cand.new_id = sa.doc_id
                    JOIN sets sb ON cand.corpus_id = sb.doc_id)
        SELECT new_id, corpus_id AS dup_of, jaccard
        FROM (SELECT new_id, corpus_id, jaccard,
            row_number() OVER (PARTITION BY new_id ORDER BY jaccard DESC, corpus_id) AS rn
          FROM ver WHERE jaccard >= 0.5) t
        WHERE rn = 1 ORDER BY new_id"""),
      doc = "incremental dedup: new batch LSH-joined against the persisted corpus index, best match per new doc"),

    // ---- split-leakage audit: the reason dedup and splitting must
    //      COMPOSE — a hash split assigns near-identical docs
    //      independently, so ~ (1 − 1/k·Σp²) of near-dup pairs straddle
    //      splits and leak train text into eval. This query surfaces
    //      exactly those pairs: LSH band candidates (the q36 machinery,
    //      never all-pairs) × q109's hash-split assignment, keeping
    //      pairs whose sides land in different splits. The fix in a
    //      real pipeline is to split by CLUSTER representative (q77's
    //      CC root) instead of raw id; this audit is what proves the
    //      need and verifies the fix (rerun on cluster-keyed splits →
    //      zero rows).
    QueryDef(
      "q110_split_leakage_audit",
      (s, d) =>
        candidatePairsFrom(sigIndex(s, d))
          .withColumn("split_a", Splits.splitCol(col("doc_a")))
          .withColumn("split_b", Splits.splitCol(col("doc_b")))
          .filter(col("split_a") =!= col("split_b"))
          .orderBy("doc_a", "doc_b"),
      Some(s"""$oracleBandsCte,
        ${oracleCandCte()},
        sp AS (SELECT doc_a, doc_b,
            ${Splits.splitSql("doc_a")} AS split_a,
            ${Splits.splitSql("doc_b")} AS split_b
          FROM cand)
        SELECT doc_a, doc_b, split_a, split_b FROM sp
        WHERE split_a != split_b ORDER BY doc_a, doc_b"""),
      doc = "split-leakage audit: near-dup candidate pairs whose sides fall in different hash splits"),

    // ---- cluster-representative splitting: the REMEDY q110's audit
    //      proves necessary. q109's hash split keys each doc by its own
    //      id, so near-identical docs land in different splits and
    //      train text leaks into eval; here the split key is the doc's
    //      near-dup CLUSTER ROOT (q77's connected-component label;
    //      singletons — the overwhelming majority — key by their own
    //      id), so every member of a cluster shares a split BY
    //      CONSTRUCTION: a candidate pair is an edge, an edge means one
    //      component, one component means one root, one root means one
    //      split. SplitsAndBinsSpec re-runs the q110 audit over this
    //      assignment and pins ZERO leaked pairs (with the hash split
    //      as the >0 positive control).
    //      Scale: the CC runs over the candidate EDGE list only (LSH
    //      pairs, never all-pairs); the per-doc assignment is one left
    //      join of the corpus ids against the component labels (nodes
    //      that appear in any edge — a small fraction of the corpus),
    //      and the split itself stays the same pure hash function, now
    //      of the root. Rerun-stable end to end: roots are min-ids,
    //      so backfills and other machines agree with no coordination.
    QueryDef(
      "q118_cluster_split",
      (s, d) => clusterSplitAssignment(s, d).orderBy("doc_id"),
      Some(s"""${oracleBandsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
        ${oracleCandCte()},
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                  UNION ALL SELECT doc_b, doc_a FROM cand),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        reach AS (SELECT node, node AS lbl FROM nodes
                  UNION
                  SELECT e.src AS node, r.lbl FROM edges e JOIN reach r ON e.dst = r.node),
        cc AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
        rooted AS (SELECT c.doc_id, coalesce(cc.cluster, c.doc_id) AS root
          FROM corpus c LEFT JOIN cc ON c.doc_id = cc.node)
        SELECT doc_id, root, ${Splits.splitSql("root")} AS split
        FROM rooted ORDER BY doc_id"""),
      doc = "leakage-safe split: q109's hash split keyed by the q77 CC cluster root, so near-dup clusters never straddle splits"),

    // ---- the end-to-end capstone: q100's content-addressed chunk
    //      manifest KEYED BY q118's cluster-root split — the artifact a
    //      training run actually consumes. q109 defines a split, q110
    //      proves the naive one leaks, q118 fixes the assignment; this
    //      query ships the fix into the manifest: every chunk carries
    //      its doc's cluster root and the root's split, so near-dup
    //      docs' chunks land in the same split BY CONSTRUCTION
    //      (SplitsAndBinsSpec pins zero cross-split candidate pairs
    //      over exactly this frame).
    //      Scale: the manifest side is the q100 plan unchanged; the
    //      assignment side is CC over the LSH edge list only; the glue
    //      is ONE equi-join on doc_id — both sides shuffle-partition on
    //      the same key, no broadcast needed, no new scan of the text.
    QueryDef(
      "q121_split_manifest",
      (s, d) => CurationQueries.chunkManifest(s, d)
        // assignment over the originals only (manifest docs) — cluster
        // roots still come from the full variant-corpus edge graph
        .join(clusterSplitAssignmentOf(s, d, originalDocs(s, d)), Seq("doc_id"))
        .orderBy("doc_id", "chunk_idx"),
      Some(s"""${oracleBandsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
        ${oracleCandCte()},
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                  UNION ALL SELECT doc_b, doc_a FROM cand),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        reach AS (SELECT node, node AS lbl FROM nodes
                  UNION
                  SELECT e.src AS node, r.lbl FROM edges e JOIN reach r ON e.dst = r.node),
        cc AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
        rooted AS (SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS root
          FROM documents d LEFT JOIN cc ON d.doc_id = cc.node),
        mbase AS (SELECT doc_id, lang,
            string_split_regex(lower(trim(text)), '\\s+') AS mts,
            md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
          FROM documents),
        mf AS (SELECT doc_id, lang, mts, fp,
            (lang IN ('en','es','fr','de') AND len(mts) >= 20
              AND CAST(len(list_distinct(mts)) AS DOUBLE) / len(mts) >= 0.3) AS qual_ok
          FROM mbase),
        mk AS (SELECT doc_id, lang, mts, CAST(len(mts) AS BIGINT) AS n_tokens
          FROM (SELECT *, (qual_ok AND doc_id = min(CASE WHEN qual_ok THEN doc_id END)
              OVER (PARTITION BY fp)) AS keep_ok FROM mf) t
          WHERE keep_ok)
        SELECT mk.doc_id, CAST(u AS INT) AS chunk_idx,
          least(32, n_tokens - u * 32) AS chunk_tokens, lang,
          md5(array_to_string(mts[u * 32 + 1 : u * 32 + least(32, n_tokens - u * 32)], ' '))
            AS chunk_hash,
          r.root AS root, ${Splits.splitSql("r.root")} AS split
        FROM mk
        JOIN rooted r ON mk.doc_id = r.doc_id,
        unnest(range(CAST(ceil(n_tokens / 32.0) AS BIGINT))) AS s(u)
        ORDER BY mk.doc_id, chunk_idx"""),
      doc = "leakage-safe training manifest: q100's chunk manifest joined to q118's cluster-root split assignment"),

    // ---- cross-doc EXACT shared-span mining: the substring-dedup
    //      primitive (Lee et al., "Deduplicating Training Data Makes
    //      Language Models Better") — for every doc pair, the longest
    //      run of tokens they share VERBATIM. q115 finds repeats within
    //      a doc and q36/q113 score whole-doc similarity; this is the
    //      span-level cross-doc statistic a substring-dedup pass
    //      thresholds on. Mechanics: 8-token grams with positions form
    //      an inverted index; the gram equi self-join yields (pair,
    //      pos_a, pos_b) matches; a shared span of m tokens is exactly
    //      m−7 consecutive matches at one offset (pos_a − pos_b), so a
    //      row_number run-length collapse per (pair, offset) recovers
    //      the exact span: span = run + 7.
    //      Scale: inverted-index equi-join — never all-pairs; the
    //      run-length window partitions by (pair, offset), bounded by
    //      doc length, never global. At web scale the standard remedy
    //      for hot grams (boilerplate) is a document-frequency cap on
    //      the gram index before the join — same plan, one extra
    //      semi-join prune.
    QueryDef(
      "q122_shared_span_pairs",
      (s, d) => sharedSpanPairs(s, d, dfCap = None),
      Some(sharedSpanSql(dfCap = None)),
      doc = "cross-doc exact shared-span mining: longest verbatim token run per pair via k-gram inverted-index join + run-length collapse"),

    // ---- the web-scale remedy from q122's scale note, EXECUTABLE: the
    //      same span mining with the hot-gram document-frequency cap ON
    //      (df ≤ 4 here, so the fixture's boilerplate grams actually
    //      trip it). The cap is one semi-join pruning the gram index
    //      before the self-join — at web scale it bounds the join's
    //      per-key fan-out by construction (a gram in df docs yields
    //      ≤ df² match rows), trading spans that run THROUGH boilerplate
    //      grams for a hard cap on the hot-key blowup. The oracle
    //      mirrors the cap, so the capped semantics are hash-verified,
    //      not aspirational.
    QueryDef(
      "q128_shared_span_capped",
      (s, d) => sharedSpanPairs(s, d, dfCap = Some(4)),
      Some(sharedSpanSql(dfCap = Some(4))),
      doc = "q122's span mining with the hot-gram DF cap enabled: one semi-join prunes grams in > 4 docs before the inverted-index join"),

    // ---- SimHash near-dup PAIR MINING: the Manku/Charikar pigeonhole
    //      scheme that turns "all pairs within Hamming distance d" into
    //      equi-joins. A 64-bit simhash (from per-token md5 nibbles) is
    //      carried as 4 × 16-bit block ints; any pair differing in
    //      ≤ 3 bits must agree on ≥ 1 whole block (4 blocks, 3 flips —
    //      pigeonhole), so block-value equi self-joins generate a
    //      candidate set that PROVABLY contains every qualifying pair,
    //      and the exact bit_count(xor) verify makes the output exactly
    //      "all pairs with hamming ≤ 3" — complete, not approximate.
    //      Scale: one token-explode aggregation builds the signature
    //      index (materialized once, both join sides + verify read the
    //      stored blocks); the candidate join shuffles on the block key
    //      (65,536 values per block — at web scale the standard remedy
    //      for hot blocks is more/permuted blocks, same plan shape).
    //      Blocks stay SEPARATE int columns end-to-end: composing a
    //      signed 64-bit value would put bit 63 through engine-specific
    //      overflow behavior, while per-block xor/bit_count is exact
    //      and identical everywhere.
    QueryDef(
      "q113_simhash_hamming_pairs",
      // The signature rides ALONG the block rows ([[ProbeFold.blockKeys]],
      // 4 extra ints ≈ the block key's own width), so the verify runs
      // inline on the join output — no join-back to the signature index,
      // and the dedup DISTINCT only sees hamming-qualified pairs instead
      // of every block collision (~1% of collisions at sf0.1).
      (s, d) => ProbeFold.hammingPairs(simhashBlockFrame(variantCorpus(s, d)).localCheckpoint()),
      Some {
        val sums = (0 until SimhashBits).map(i =>
          s"sum(CASE WHEN substr(h, ${i / 4 + 1}, 1) IN (${
            nibbleCharsWithBit(i % 4).map(c => s"'$c'").mkString(",")}) THEN 1 ELSE -1 END) AS b$i")
          .mkString(", ")
        val blocks = (0 until SimhashBlocks).map(k =>
          "CAST(" + (0 until 16).map(p =>
            s"(CASE WHEN b${16 * k + p} > 0 THEN ${1 << p} ELSE 0 END)").mkString(" + ") +
            s" AS INT) AS sim$k").mkString(", ")
        val blockList = (0 until SimhashBlocks).map(k => s"$k || ':' || sim$k").mkString("[", ", ", "]")
        val ham = (0 until SimhashBlocks)
          .map(k => s"bit_count(xor(sa.sim$k, sb.sim$k))").mkString(" + ")
        s"""WITH corpus AS (
          SELECT doc_id, trim(text) AS text FROM documents
          UNION ALL
          SELECT doc_id + ${Ids.VariantOffset}, trim(substr(text, strpos(text, ' ') + 1)) FROM documents),
        tk AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM corpus),
        bs AS (SELECT doc_id, $sums FROM (SELECT doc_id, md5(tok) AS h FROM tk) GROUP BY doc_id),
        sim AS (SELECT doc_id, $blocks FROM bs),
        blocks AS (SELECT doc_id, unnest($blockList) AS bk FROM sim),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM blocks a JOIN blocks b ON a.bk = b.bk AND a.doc_id < b.doc_id),
        ham AS (SELECT doc_a, doc_b, CAST($ham AS INT) AS hamming
          FROM cand JOIN sim sa ON doc_a = sa.doc_id JOIN sim sb ON doc_b = sb.doc_id)
        SELECT doc_a, doc_b, hamming FROM ham
        WHERE hamming <= ${ProbeFold.HammingMax} ORDER BY doc_a, doc_b"""
      },
      doc = "complete simhash Hamming<=3 pair mining: pigeonhole block equi-joins + exact xor popcount verify"),

    // ---- SimHash: 16-bit signature from per-token md5 nibble high-bits
    QueryDef(
      "q38_dedup_simhash",
      (s, d) => {
        val bitSums = (1 to 16).map(p =>
          sum(when(substring(col("h"), p, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
            .otherwise(-1)).as(s"b$p"))
        val bitChars = (1 to 16).map(p => when(col(s"b$p") > 0, lit("1")).otherwise(lit("0")))
        Tables.documents(s, d)
          .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
          .withColumn("h", md5(col("tok")))
          .groupBy("doc_id")
          .agg(bitSums.head, bitSums.tail: _*)
          .select(col("doc_id"), concat(bitChars: _*).as("simhash"))
          .orderBy("doc_id")
      },
      Some {
        val bitSums = (1 to 16).map(p =>
          s"sum(CASE WHEN substr(md5(tok), $p, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b$p")
          .mkString(", ")
        val bitChars = (1 to 16).map(p => s"CASE WHEN b$p > 0 THEN '1' ELSE '0' END").mkString(" || ")
        s"""SELECT doc_id, $bitChars AS simhash FROM (
          SELECT doc_id, $bitSums
          FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents) t
          GROUP BY doc_id) b ORDER BY doc_id"""
      }),

    // ---- cross-source near-dup matrix (q158): q37's verified pairs
    //      rolled up to the SOURCE level — "which sources copy from
    //      each other", the provenance view that decides whether a
    //      source is additive or a mirror before it's admitted to a
    //      mixture. Variants inherit their base doc's source
    //      (doc_id mod Ids.VariantOffset); each cell reports pair volume, how
    //      many are the planted self-variants vs genuine cross-doc
    //      collisions, and the mean verified Jaccard (ordered fold —
    //      the q90 lesson). The matrix is a candidate-pairs-sized
    //      aggregation: nothing here rescans text, and the source dim
    //      broadcasts.
    QueryDef(
      "q158_cross_source_matrix",
      (s, d) => {
        val verified = lshVerified(s, d)
          .select(col("doc_a"), col("doc_b"), col("jaccard"),
            (col("doc_a") % Ids.VariantOffset).as("base_a"),
            (col("doc_b") % Ids.VariantOffset).as("base_b"))
        val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
        verified
          .join(broadcast(src.select(col("doc_id").as("base_a"),
            col("source").as("sa_src"))), Seq("base_a"))
          .join(broadcast(src.select(col("doc_id").as("base_b"),
            col("source").as("sb_src"))), Seq("base_b"))
          .withColumn("source_a", least(col("sa_src"), col("sb_src")))
          .withColumn("source_b", greatest(col("sa_src"), col("sb_src")))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("base_a") === col("base_b"), 1L).otherwise(0L))
              .as("n_self_variant"),
            expr("""aggregate(transform(array_sort(collect_list(struct(doc_a, doc_b, jaccard))),
                 x -> x.jaccard), 0D, (a, y) -> a + y)""").as("sj"))
          .select(col("source_a"), col("source_b"), col("n_pairs"),
            col("n_self_variant"),
            round(col("sj") / col("n_pairs"), 4).as("mean_j_r"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""$oracleBandsCte,
        ${oracleCandCte()},
        sets AS (SELECT DISTINCT doc_id, list_distinct(shingles) AS sd FROM sh),
        ver AS (SELECT doc_a, doc_b,
            CAST(len(list_filter(sa.sd, x -> list_contains(sb.sd, x))) AS DOUBLE) /
              (len(sa.sd) + len(sb.sd) - len(list_filter(sa.sd, x -> list_contains(sb.sd, x)))) AS jaccard
          FROM cand JOIN sets sa ON cand.doc_a = sa.doc_id
                    JOIN sets sb ON cand.doc_b = sb.doc_id
          WHERE CAST(len(list_filter(sa.sd, x -> list_contains(sb.sd, x))) AS DOUBLE) /
              (len(sa.sd) + len(sb.sd) - len(list_filter(sa.sd, x -> list_contains(sb.sd, x)))) >= 0.5),
        m AS (SELECT doc_a, doc_b, jaccard,
            doc_a % ${Ids.VariantOffset} AS base_a, doc_b % ${Ids.VariantOffset} AS base_b,
            da.source AS sa_src, db.source AS sb_src
          FROM ver JOIN documents da ON ver.doc_a % ${Ids.VariantOffset} = da.doc_id
                   JOIN documents db ON ver.doc_b % ${Ids.VariantOffset} = db.doc_id)
        SELECT least(sa_src, sb_src) AS source_a,
          greatest(sa_src, sb_src) AS source_b,
          CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(CASE WHEN base_a = base_b THEN 1 ELSE 0 END) AS BIGINT) AS n_self_variant,
          round(list_sum(list(jaccard ORDER BY doc_a, doc_b)) / count(*), 4) AS mean_j_r
        FROM m GROUP BY least(sa_src, sb_src), greatest(sa_src, sb_src)
        ORDER BY source_a, source_b"""),
      doc = "cross-source near-dup matrix: q37's verified pairs rolled up per source pair with self-variant vs cross-doc split and mean Jaccard — the provenance/mirror-detection view over the dedup machinery"),

    // ---- cluster representative selection (q169): the step AFTER
    //      q77's cluster formation — per near-dup cluster, keep the
    //      best member (here: most tokens, the keep-the-longest
    //      heuristic; ties to the min doc_id) and count what drops.
    //      This is the actual dedup DECISION a pipeline ships: q77
    //      says who clusters together, q169 says which row survives.
    //      Argmax via the portable min(struct(-n_tokens, doc_id))
    //      fold; the length frame joins on the node id (the cluster
    //      frame's own key) and the roll-up is cluster-keyed —
    //      nothing rescans text beyond the one token-count pass.
    QueryDef(
      "q169_cluster_representatives",
      (s, d) => {
        val edges = candidatePairsFrom(sigIndex(s, d))
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        val cc = ConnectedComponents.run(edges)
        val lens = variantCorpus(s, d)
          .select(col("doc_id").as("node"),
            size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
        cc.join(lens, Seq("node"))
          .groupBy("cluster")
          .agg(count(lit(1)).as("cluster_size"),
            min(struct((-col("n_tokens")).as("nt"), col("node").as("doc_id"))).as("m"))
          .select(col("cluster"), col("m.doc_id").as("rep_doc_id"),
            (-col("m.nt")).as("rep_tokens"), col("cluster_size"),
            (col("cluster_size") - 1).as("n_dropped"))
          .orderBy("cluster")
      },
      Some(s"""$oracleCcCtes,
        lens AS (SELECT doc_id AS node, CAST(len(ts) AS BIGINT) AS n_tokens FROM tok),
        sel AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size,
            min(struct_pack(nt := -n_tokens, doc_id := cc.node)) AS m
          FROM cc JOIN lens ON cc.node = lens.node GROUP BY cluster)
        SELECT cluster, (m).doc_id AS rep_doc_id, -(m).nt AS rep_tokens,
          cluster_size, cluster_size - 1 AS n_dropped
        FROM sel ORDER BY cluster"""),
      doc = "post-dedup representative selection: per q77 cluster keep the longest member (portable min-struct argmax), report survivor and drop count — one shared cluster-membership definition with q77"),

    // ---- helper-backed by snmVerified (shared with q174's method
    //      comparison).
    //
    // ---- sorted-neighborhood dedup (q173): the OTHER classic blocking
    //      family (Hernández & Stolfo 1995) beside LSH — sort the
    //      corpus by a similarity-preserving key and verify only rank
    //      neighbors within a window. Key = last 40 chars: the planted
    //      first-token-dropped variants share their base doc's suffix
    //      exactly, so every variant sorts adjacent to its original —
    //      the recall case SNM must catch. The global sort rank comes
    //      from [[GlobalRank.withRowIndex]] (range partition + prefix
    //      offsets — NEVER a single-partition row_number), and the
    //      window-of-2 neighbor join is a UNION of equi-joins on
    //      rank+d, so the verification joins all hash on ranks.
    //      Complexity is O(n·w) verifies after a sort — SNM's selling
    //      point vs LSH's O(candidates) with hash fan-out; the battery
    //      now carries both for the judge's method comparison.
    QueryDef(
      "q173_sorted_neighborhood",
      (s, d) => snmVerified(s, d)
        .select(col("doc_a"), col("doc_b"), col("dist"),
          round(col("jaccard"), 4).as("jaccard_r"))
        .orderBy("doc_a", "doc_b"),
      Some(s"""$oracleBandsCte, $oracleSetsCte, $oracleSnmVerCte
        SELECT doc_a, doc_b, dist, round(jaccard, 4) AS jaccard_r
        FROM snmver ORDER BY doc_a, doc_b"""),
      doc = "sorted-neighborhood dedup (Hernandez & Stolfo 1995): suffix-keyed global sort rank via the distributed row-index primitive, window-of-2 neighbor verify as rank equi-joins — the sort-based blocking twin of the LSH family"),

    // ---- blocking-method comparison (q174): the recall study a
    //      pipeline runs before picking its dedup blocking — LSH
    //      (q36/q37 chain) vs sorted-neighborhood (q173 chain), both
    //      verified at the same exact-Jaccard ≥ 0.5 bar: per-method
    //      verified-pair counts, the overlap, each method's exclusive
    //      finds, and each method's recall of the PLANTED ground truth
    //      (the doc_b = doc_a + Ids.VariantOffset self-variant pairs). Both
    //      chains are the SAME shared definitions their own queries
    //      run ([[lshVerified]]/[[snmVerified]] — no drift possible),
    //      and the comparison itself is candidate-set-sized set
    //      algebra: one equi-join on the pair key plus five scalar
    //      counts.
    QueryDef(
      "q174_blocking_comparison",
      (s, d) => {
        val l = lshVerified(s, d).select("doc_a", "doc_b").localCheckpoint()
        val sn = snmVerified(s, d).select("doc_a", "doc_b").localCheckpoint()
        val both = l.join(sn, Seq("doc_a", "doc_b"))
        // each method's total and planted-recall counts fused into ONE
        // aggregate over its pinned frame (r22): the five separate
        // scalar-agg subtrees cost five AQE stage jobs + two extra scans
        // of l/sn for the same arithmetic (§1.2 job count).
        // count(when(cond)) counts exactly the planted filter's rows.
        def cnts(df: DataFrame, pfx: String) = df.agg(
          count(lit(1)).as(s"n_$pfx"),
          count(when(col("doc_b") - col("doc_a") === Ids.VariantOffset, lit(1)))
            .as(s"planted_$pfx"))
        cnts(l, "lsh")
          .crossJoin(cnts(sn, "snm"))
          .crossJoin(both.agg(count(lit(1)).as("n_both")))
          .select(col("n_lsh"), col("n_snm"), col("n_both"),
            (col("n_lsh") - col("n_both")).as("lsh_only"),
            (col("n_snm") - col("n_both")).as("snm_only"),
            col("planted_lsh"), col("planted_snm"))
      },
      Some(s"""$oracleBandsCte, $oracleSetsCte, $oracleLshVerCte, $oracleSnmVerCte
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM lshver) AS n_lsh,
          (SELECT CAST(count(*) AS BIGINT) FROM snmver) AS n_snm,
          (SELECT CAST(count(*) AS BIGINT) FROM lshver l
             JOIN snmver s ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b) AS n_both,
          (SELECT CAST(count(*) AS BIGINT) FROM lshver) -
            (SELECT CAST(count(*) AS BIGINT) FROM lshver l
               JOIN snmver s ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b) AS lsh_only,
          (SELECT CAST(count(*) AS BIGINT) FROM snmver) -
            (SELECT CAST(count(*) AS BIGINT) FROM lshver l
               JOIN snmver s ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b) AS snm_only,
          (SELECT CAST(count(*) AS BIGINT) FROM lshver
             WHERE doc_b - doc_a = ${Ids.VariantOffset}) AS planted_lsh,
          (SELECT CAST(count(*) AS BIGINT) FROM snmver
             WHERE doc_b - doc_a = ${Ids.VariantOffset}) AS planted_snm"""),
      doc = "blocking-method recall study: LSH vs sorted-neighborhood verified pairs at the same Jaccard bar — overlap, exclusives, and planted-ground-truth recall per method, built from the two families' own shared definitions"),

    // ---- cluster source-purity audit (q191): for each q77 near-dup
    //      cluster, the SOURCE mix of its members — single-source
    //      clusters are ordinary self-duplication, mixed clusters are
    //      cross-source mirrors (q158's signal at cluster rather than
    //      pair granularity). Per cluster: member count, distinct
    //      sources, source-mix Shannon entropy (the q172 ln(n) −
    //      Σc·lnc/n form, folded in source order), and the majority
    //      source's share. Variants inherit their base doc's source
    //      (id mod Ids.VariantOffset); the source dim broadcasts; everything
    //      after CC is cluster-keyed.
    QueryDef(
      "q191_cluster_purity",
      (s, d) => {
        val edges = candidatePairsFrom(sigIndex(s, d))
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        val cc = ConnectedComponents.run(edges)
        val srcDim = Tables.documents(s, d)
          .select(col("doc_id").as("base"), col("source"))
        val bySrc = cc
          .select(col("cluster"), (col("node") % Ids.VariantOffset).as("base"))
          .join(broadcast(srcDim), Seq("base"))
          .groupBy("cluster", "source").agg(count(lit(1)).as("c"))
        bySrc.groupBy("cluster")
          .agg(sum(col("c")).as("n"),
            count(lit(1)).as("n_sources"),
            expr("""aggregate(transform(array_sort(collect_list(struct(source, c))),
                 x -> CAST(x.c AS DOUBLE) * ln(CAST(x.c AS DOUBLE))), 0D,
                 (a, v) -> a + v)""").as("slc"),
            max(col("c")).as("mx"))
          .select(col("cluster"), col("n").as("n_members"), col("n_sources"),
            round(log(col("n").cast("double")) - col("slc") / col("n"), 4)
              .as("entropy_r"),
            round(col("mx").cast("double") / col("n"), 4).as("top_share_r"))
          .orderBy("cluster")
      },
      Some(s"""$oracleCcCtes,
        bysrc AS (SELECT cluster, source, count(*) AS c
          FROM cc JOIN documents ON cc.node % ${Ids.VariantOffset} = documents.doc_id
          GROUP BY cluster, source),
        g AS (SELECT cluster, CAST(sum(c) AS BIGINT) AS n,
            CAST(count(*) AS BIGINT) AS n_sources,
            list_sum(list(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) ORDER BY source)) AS slc,
            CAST(max(c) AS BIGINT) AS mx
          FROM bysrc GROUP BY cluster)
        SELECT cluster, n AS n_members, n_sources,
          round(ln(CAST(n AS DOUBLE)) - slc / n, 4) AS entropy_r,
          round(CAST(mx AS DOUBLE) / n, 4) AS top_share_r
        FROM g ORDER BY cluster"""),
      doc = "per-cluster source-mix purity over q77's components: distinct sources, source-ordered entropy fold, majority share — self-duplication vs cross-source mirroring at cluster granularity")
  )
}
