package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (north-star LLM-pipeline
  * surface, SURVEY.md §7 M6): token counting, quality scoring,
  * n-gram-heuristic language ID, document fingerprinting.
  *
  * Everything stays inside whole-stage codegen: higher-order array
  * functions (`transform`/`filter`/`aggregate`) + built-in string
  * functions, no UDFs. At 100 TB these are embarrassingly parallel
  * per-row maps — no shuffle at all until an aggregation is asked for.
  */
object TextQueries {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** q115's span-length cap: bounds the per-row O(L²·n) repeated-span
    * search so one pathological document cannot go quadratic in its
    * own length. */
  private val MaxRepeatedSpan = 20

  /** lang → distinctive marker words for the n-gram/stopword heuristic. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "is", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "les", "des", "et", "une"),
    "de" -> Seq("der", "die", "das", "und", "ist"))

  private def orChain(v: String, words: Seq[String]): String =
    words.map(w => s"$v = '$w'").mkString(" OR ")

  /** The marker-vote language labeler, factored to ONE definition (the
    * SharedSpanSpec lesson): marker-count columns `c_<lang>` plus the
    * deterministic majority vote `lang_pred` with fixed tie order.
    * Feeds both q33 (the per-doc report) and q160 (the agreement
    * audit), so the two queries cannot drift apart. */
  private def withLangPred(df: DataFrame): DataFrame = {
    val withCounts = langMarkers.foldLeft(
      df.withColumn("ts", split(trim(col("text")), "\\s+"))) {
      case (acc, (lang, words)) =>
        acc.withColumn(s"c_$lang",
          expr(s"size(filter(ts, t -> ${orChain("t", words)}))"))
    }
    withCounts.withColumn("lang_pred",
      when(col("c_en") >= col("c_es") && col("c_en") >= col("c_fr") &&
           col("c_en") >= col("c_de") && col("c_en") > 0, "en")
        .when(col("c_es") >= col("c_fr") && col("c_es") >= col("c_de") &&
              col("c_es") > 0, "es")
        .when(col("c_fr") >= col("c_de") && col("c_fr") > 0, "fr")
        .when(col("c_de") > 0, "de")
        .otherwise("und"))
  }

  /** Oracle twins of [[withLangPred]]'s two pieces. */
  private val oracleLangCounts: String = langMarkers.map { case (lang, words) =>
    s"CAST(len(list_filter(ts, t -> ${orChain("t", words)})) AS INT) AS c_$lang"
  }.mkString(", ")

  /** q162's σ(w·x) scorer as a frame (doc_id, source, score) — one
    * definition feeding the per-doc report and q176's ensemble. */
  private def qualityScored(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("ts", split(trim(col("text")), "\\s+"))
      .select(col("doc_id"), col("source"),
        (expr(s"size(filter(ts, t -> ${orChain("t", stopwords)}))").cast("double") /
          size(col("ts"))).as("stop"),
        (size(array_distinct(col("ts"))).cast("double") / size(col("ts"))).as("ttr"),
        (length(col("text")).cast("double") / size(col("ts"))).as("cpt"),
        log(size(col("ts")).cast("double")).as("lnt"))
      .withColumn("z",
        lit(-2.0) + lit(6.0) * col("stop") - lit(3.0) * col("ttr") +
          lit(0.2) * col("cpt") + lit(0.5) * col("lnt"))
      .withColumn("score", lit(1.0) / (lit(1.0) + exp(-col("z"))))
      .select("doc_id", "source", "score")

  /** q172's character-entropy frame (doc_id, n, n_unique_chars,
    * entropy, unrounded) — shared with q176. */
  private def charEntropy(s: SparkSession, d: String): DataFrame =
    // per-char rows via ONE linear split pass: the sequence+substring
    // form re-seeks the UTF-8 char boundary from the string head on
    // every position (O(len²) byte scans per doc — measured as q172's
    // single 2.2 s job at sf0.1); split('') emits the same code-point
    // pieces in one pass (the filter drops only the regex's trailing
    // empty match — no character is ever the empty string, and for
    // empty text it matches the oracle's zero rows where the old form
    // fabricated rows). Oracle unchanged; r21 A/B + cell-exact compare
    // on all SFs price and prove the swap.
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ''), c -> c != '')")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n"),
        count(lit(1)).as("n_unique_chars"),
        expr("""aggregate(transform(array_sort(collect_list(struct(ch, c))),
             x -> CAST(x.c AS DOUBLE) * ln(CAST(x.c AS DOUBLE))), 0D,
             (a, v) -> a + v)""").as("slc"))
      .withColumn("entropy",
        log(col("n").cast("double")) - col("slc") / col("n"))

  /** Oracle twins, as CTE blocks ending in `qscore` (doc_id, source,
    * score) and `ent` (doc_id, n, n_unique_chars, entropy). */
  private def oracleScoreCtes: String =
    s"""qf AS (SELECT doc_id, source,
          CAST(len(list_filter(ts, t -> ${orChain("t", stopwords)})) AS DOUBLE) / len(ts) AS stop,
          CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS ttr,
          CAST(length(text) AS DOUBLE) / len(ts) AS cpt,
          ln(CAST(len(ts) AS DOUBLE)) AS lnt
        FROM (SELECT doc_id, source, text,
          string_split_regex(trim(text), '\\s+') AS ts FROM documents) t),
      qz AS (SELECT doc_id, source,
          -2.0 + 6.0 * stop - 3.0 * ttr + 0.2 * cpt + 0.5 * lnt AS z FROM qf),
      qscore AS (SELECT doc_id, source, 1.0 / (1.0 + exp(-z)) AS score FROM qz)"""

  private val oracleEntropyCtes: String =
    """ech AS (SELECT doc_id, unnest(list_transform(range(length(text)),
          i -> substr(text, CAST(i + 1 AS INT), 1))) AS ch FROM documents),
      ecc AS (SELECT doc_id, ch, count(*) AS c FROM ech GROUP BY doc_id, ch),
      ent AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS n_unique_chars,
          ln(CAST(CAST(sum(c) AS BIGINT) AS DOUBLE)) -
            list_sum(list(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) ORDER BY ch))
              / CAST(sum(c) AS BIGINT) AS entropy
        FROM ecc GROUP BY doc_id)"""

  private val oracleLangPredCase: String =
    """CASE WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_de AND c_en > 0 THEN 'en'
         WHEN c_es >= c_fr AND c_es >= c_de AND c_es > 0 THEN 'es'
         WHEN c_fr >= c_de AND c_fr > 0 THEN 'fr'
         WHEN c_de > 0 THEN 'de'
         ELSE 'und' END"""

  /** q83 body, with the broadcast-vocabulary assumption GUARDED: the
    * df side is the post-agg vocabulary — Heaps-law small for curated
    * text, but a raw web-scale whitespace vocabulary (typos/URLs/
    * numbers) can exceed what a driver can broadcast. The vocabulary
    * is materialized and COUNTED; at or under `maxBroadcastVocab`
    * rows (default ~1M ≈ tens of MB serialized, safely inside the
    * broadcast/driver limits) it broadcasts so tf never shuffles on
    * the skewed term key; above it, the join falls back to a
    * term-keyed sort-merge (both sides shuffle once on term — AQE's
    * skew-join split handles the hot-term reducers). Both shapes are
    * proven result-identical in PlanAuditSpec. */
  private[graft] def tfidfTopTerms(
      s: SparkSession, d: String,
      maxBroadcastVocab: Long = 1000000L): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    // materialized once: tf feeds BOTH join branches (its own and
    // the df derivation); an unmaterialized plan recomputes the
    // tokenize→explode→agg chain per branch.
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // df derived from tf, not from the raw tokens: tf rows are
    // already distinct (doc, term) pairs, so count(*) per term IS
    // count(DISTINCT doc_id) — and the corpus is scanned/exploded
    // ONCE instead of twice (at 100 TB, one pass vs two). The
    // checkpoint makes the guard's count() cheap and reuses the same
    // blocks for the join input.
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .localCheckpoint()
    val vocabSize = dfreq.count()
    val joined =
      if (vocabSize <= maxBroadcastVocab) tf.join(broadcast(dfreq), Seq("term"))
      else tf.join(dfreq.hint("merge"), Seq("term"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term").asc)
    joined
      .crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 4).as("tfidf_r"))
      .orderBy("doc_id", "rn")
  }

  /** q132's scoring pipeline, lang/n_tokens carried for downstream
    * composition (q138's curriculum packer): per-doc average bigram
    * negative log-likelihood under the corpus-trained add-one model.
    * Ordered double folds throughout (the q96/q90 lesson). */
  private[graft] def bigramScored(s: SparkSession, d: String): DataFrame = {
    // fanned out: tokenize + the per-position bigram struct explode
    // over a one-split scan otherwise run as a single task (the
    // shingleSets lesson; feeds q132 AND q138)
    val bigrams = Tables.fanOut(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"),
        split(lower(trim(col("text"))), "\\s+").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("lang"), size(col("ts")).cast("long").as("n_tokens"),
        explode(expr(
          "transform(sequence(1, size(ts) - 1), i -> struct(ts[i-1] AS w1, ts[i] AS w2))")).as("bg"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // the model: bigram-type counts + left-context totals, pinned
    // once (vocabulary-sized) and broadcast back
    val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
      .localCheckpoint()
    val cleft = c2.groupBy("w1").agg(sum(col("n2")).as("nl"))
    val vsize = Tables.documents(s, d)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .agg(countDistinct(col("w")).as("vsz"))
    bigrams.join(broadcast(c2), Seq("w1", "w2"))
      .join(broadcast(cleft), Seq("w1"))
      .crossJoin(broadcast(vsize))
      .withColumn("nll",
        -log((col("n2") + 1).cast("double") / (col("nl") + col("vsz")).cast("double")))
      .groupBy("doc_id", "lang", "n_tokens")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("""aggregate(transform(array_sort(collect_list(struct(w1, w2, nll))),
             s -> s.nll), 0D, (a, x) -> a + x)""").as("tot_nll"))
      .withColumn("avg_nll_r", round(col("tot_nll") / col("n_bigrams"), 4))
      .select("doc_id", "lang", "n_tokens", "n_bigrams", "avg_nll_r")
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- token counting + basic stats
    QueryDef(
      "q31_text_token_stats",
      (s, d) => Tables.documents(s, d)
        .withColumn("ts", split(trim(col("text")), "\\s+"))
        .select(col("doc_id"),
          size(col("ts")).as("n_tokens"),
          length(col("text")).as("len_chars"),
          size(array_distinct(col("ts"))).as("n_distinct_tokens"),
          expr(s"size(filter(ts, t -> ${orChain("t", stopwords)}))").as("n_stopwords"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
        CAST(len(ts) AS INT) AS n_tokens,
        CAST(length(text) AS INT) AS len_chars,
        CAST(len(list_distinct(ts)) AS INT) AS n_distinct_tokens,
        CAST(len(list_filter(ts, t -> ${orChain("t", stopwords)})) AS INT) AS n_stopwords
        FROM (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS ts FROM documents) t
        ORDER BY doc_id""")),

    // ---- quality scoring: ratios are element-wise double division (exact)
    QueryDef(
      "q32_text_quality",
      (s, d) => Tables.documents(s, d)
        .withColumn("ts", split(trim(col("text")), "\\s+"))
        .select(col("doc_id"),
          (length(regexp_replace(col("text"), "[^.!?,;:]", "")).cast("double") /
            length(col("text"))).as("punct_ratio"),
          (expr(s"size(filter(ts, t -> ${orChain("t", stopwords)}))").cast("double") /
            size(col("ts"))).as("stopword_ratio"),
          (size(array_distinct(col("ts"))).cast("double") / size(col("ts"))).as("ttr"),
          (length(col("text")).cast("double") / size(col("ts"))).as("chars_per_token"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
        CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
        CAST(len(list_filter(ts, t -> ${orChain("t", stopwords)})) AS DOUBLE) / len(ts) AS stopword_ratio,
        CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS ttr,
        CAST(length(text) AS DOUBLE) / len(ts) AS chars_per_token
        FROM (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS ts FROM documents) t
        ORDER BY doc_id""")),

    // ---- language ID by marker-stopword voting, deterministic tiebreak
    QueryDef(
      "q33_lang_id",
      (s, d) =>
        withLangPred(Tables.documents(s, d))
          .select(col("doc_id"), col("lang").as("lang_labeled"),
            col("c_en"), col("c_es"), col("c_fr"), col("c_de"),
            col("lang_pred"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang_labeled, c_en, c_es, c_fr, c_de,
          $oracleLangPredCase AS lang_pred
          FROM (SELECT doc_id, lang AS lang_labeled, $oracleLangCounts
            FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS ts FROM documents) t0) t
          ORDER BY doc_id""")),

    // ---- BPE-ish regex tokenization (subword-style token counting)
    QueryDef(
      "q69_bpe_tokens",
      (s, d) => {
        val pat = "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
        Tables.documents(s, d)
          .select(col("doc_id"),
            size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("n_bpe_tokens"),
            size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"))
          .withColumn("tokens_per_word",
            col("n_bpe_tokens").cast("double") / col("n_ws_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, n_bpe_tokens, n_ws_tokens,
        CAST(n_bpe_tokens AS DOUBLE) / n_ws_tokens AS tokens_per_word
        FROM (SELECT doc_id,
          CAST(len(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+')) AS INT) AS n_bpe_tokens,
          CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_ws_tokens
          FROM documents) t ORDER BY doc_id""")),

    // ---- BPE tokenizer TRAINING primitive: one merge round's
    //      weighted adjacent-pair count (Sennrich et al.) — the op a
    //      distributed tokenizer-training job iterates: count every
    //      adjacent symbol pair across the corpus weighted by word
    //      frequency, take the top merge candidates. q69 measures
    //      tokenization; this trains it. Scale: the word-frequency agg
    //      collapses the corpus to vocabulary size FIRST, so the pair
    //      explode runs over distinct words × word length, not corpus
    //      tokens; the top-50 is a parallel TakeOrderedAndProject,
    //      never a global sort of the pair table.
    QueryDef(
      "q123_bpe_merge_pairs",
      (s, d) => Tables.documents(s, d)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("wf"))
        .filter(length(col("word")) >= 2)
        .select(col("wf"), explode(expr(
          "transform(sequence(1, length(word) - 1), i -> concat(substring(word, i, 1), ' ', substring(word, i + 1, 1)))")).as("pair"))
        .groupBy("pair").agg(sum(col("wf")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(50),
      Some("""WITH words AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word FROM documents),
        wf AS (SELECT word, count(*) AS wf FROM words GROUP BY word),
        pairs AS (SELECT substr(word, i, 1) || ' ' || substr(word, i + 1, 1) AS pair, wf
          FROM wf, unnest(range(1, length(word))) AS s(i) WHERE length(word) >= 2)
        SELECT pair, CAST(sum(wf) AS BIGINT) AS n
        FROM pairs GROUP BY pair
        ORDER BY n DESC, pair LIMIT 50"""),
      doc = "BPE training primitive: corpus-weighted adjacent-pair counts over the word-frequency table, top-50 merge candidates"),

    // ---- winnowing fingerprints (k-gram window-min — the standard
    //      rolling-hash document fingerprint). Shaped as
    //      posexplode → window-min → distinct agg so each k-gram hashes
    //      exactly once (the inlined nested-array form is O(len²) md5
    //      per doc after projection collapse — same trap as q36).
    QueryDef(
      "q70_winnowing",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, 3)
        val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
        Tables.fanOut(Tables.documents(s, d))
          .select(col("doc_id"),
            posexplode(expr(
              "transform(sequence(1, greatest(length(text) - 7, 1)), i -> md5(substring(text, i, 8)))")))
          .withColumnRenamed("col", "h")
          .withColumn("nk", count(lit(1)).over(wc))
          .withColumn("fp", min(col("h")).over(w))
          .filter(col("pos") <= col("nk") - 4) // full 4-hash windows only
          .groupBy("doc_id")
          .agg(max(col("nk")).as("n_kgrams"),
            countDistinct(col("fp")).as("n_fingerprints"),
            concat_ws(",", slice(sort_array(collect_set(col("fp"))), 1, 3)).as("sample3"))
          .orderBy("doc_id")
      },
      Some("""WITH kg AS (SELECT doc_id, i, md5(substr(text, i, 8)) AS h
          FROM (SELECT doc_id, text,
            unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i FROM documents) t),
        win AS (SELECT doc_id, i,
            min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
            count(*) OVER (PARTITION BY doc_id) AS nk,
            row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS pos
          FROM kg)
        SELECT doc_id, max(nk) AS n_kgrams,
          count(DISTINCT fp) AS n_fingerprints,
          array_to_string((list_sort(list(DISTINCT fp)))[1:3], ',') AS sample3
        FROM win WHERE pos <= nk - 4
        GROUP BY doc_id ORDER BY doc_id""")),

    // ---- TF-IDF top terms per document (the classic relevance/quality
    //      feature). Shape at scale: one explode → two hash aggs (tf by
    //      (doc,term), df by term) → equi join on term → broadcast of
    //      the 1-row corpus count → per-doc top-3 window. The join is
    //      term-partitioned (shuffle once); nothing is ever quadratic.
    //      Ordering ties are broken by term so the float score never
    //      decides between equal (tf, df) pairs; the score itself is
    //      emitted rounded to 4 decimals (ln differs in the last ulp
    //      across engines; the rounding grid is 1e9× coarser).
    QueryDef(
      "q83_tfidf_topterms",
      (s, d) => tfidfTopTerms(s, d),
      Some("""WITH toks AS (SELECT doc_id,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
            tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
          FROM tf JOIN df USING (term) CROSS JOIN n)
        SELECT doc_id, rn, term, tf, df, round(tfidf, 4) AS tfidf_r FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, term) AS INT) AS rn FROM scored) t
        WHERE rn <= 3 ORDER BY doc_id, rn""")),

    // ---- PII injection + redaction: deterministic synthetic PII is
    //      appended (the corpus has none), then masked and counted —
    //      proving the full redact path with nonzero counts. Patterns
    //      stay in the Java-regex ∩ RE2 common subset (no backrefs /
    //      lookaround) so both engines match identically; DuckDB needs
    //      the explicit 'g' flag to match Spark's replace-all default.
    //      At 100 TB this is a pure per-row map — no shuffle at all.
    QueryDef(
      "q84_pii_redaction",
      (s, d) => {
        val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val phone = "\\+1-555-[0-9]+"
        Tables.documents(s, d)
          .withColumn("aug", concat(trim(col("text")),
            lit(" contact user"), col("doc_id"),
            lit("@mail.example.com or +1-555-0"), col("doc_id")))
          .select(col("doc_id"),
            size(regexp_extract_all(col("aug"), lit(email), lit(0))).as("n_emails"),
            size(regexp_extract_all(col("aug"), lit(phone), lit(0))).as("n_phones"),
            regexp_replace(regexp_replace(col("aug"), email, "<EMAIL>"),
              phone, "<PHONE>").as("redacted"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        CAST(len(regexp_extract_all(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
        CAST(len(regexp_extract_all(aug, '\+1-555-[0-9]+')) AS INT) AS n_phones,
        regexp_replace(regexp_replace(aug,
          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
          '\+1-555-[0-9]+', '<PHONE>', 'g') AS redacted
        FROM (SELECT doc_id, trim(text) || ' contact user' || CAST(doc_id AS VARCHAR)
            || '@mail.example.com or +1-555-0' || CAST(doc_id AS VARCHAR) AS aug
          FROM documents) t
        ORDER BY doc_id""")),

    // ---- deterministic stratified sampling: hash-bucket selection
    //      (md5 of the id — engine-portable, seedless, reproducible on
    //      any cluster; `rand()` would differ per run AND per task
    //      retry) keeping ~25%, then per-stratum counts. At 100 TB the
    //      filter pushes into the scan stage and the agg is the only
    //      shuffle.
    QueryDef(
      "q86_stratified_sample",
      (s, d) => Tables.documents(s, d)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1)
          .isin("0", "1", "2", "3"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_sampled"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("source", "lang"),
      Some("""SELECT source, lang, count(*) AS n_sampled,
        min(doc_id) AS min_id, max(doc_id) AS max_id
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
        GROUP BY source, lang ORDER BY source, lang""")),

    // ---- document fingerprinting (whitespace-normalized content hash)
    QueryDef(
      "q34_fingerprint",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fingerprint"),
          substring(md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))), 1, 8).as("short_fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
        substr(md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), 1, 8) AS short_fp
        FROM documents ORDER BY doc_id""")),

    // ---- boilerplate detection: exact 8-token windows that repeat
    //      across DISTINCT documents (headers, footers, templates —
    //      the cross-document twin of q88's within-document repetition
    //      signal; a curation pass strips or downweights these spans).
    //      One explode to (doc, window) rows and one shuffle keyed by
    //      the window text — token-linear, never doc×doc. At 100 TB
    //      the shuffle key would be the window's hash with the text
    //      resolved after the HAVING cut; the 8-token key here is
    //      ~60 bytes, the same order as the hash.
    QueryDef(
      "q111_boilerplate_ngrams",
      // fanned out: the scan is one split, and tokenize + the 8-token
      // window explode + partial agg otherwise serialize on one core
      // (measured: a 1.1 s single-task stage at sf0.1 — the whole
      // query minus orderBy; the dedup chain's shingleSets lesson)
      (s, d) => Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ts"))
        .filter(size(col("ts")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ts) - 8), i -> concat_ws(' ', slice(ts, i + 1, 8)))"))
          .as("chunk"))
        .groupBy("chunk")
        .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_total"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("n_total").desc, col("chunk").asc),
      Some("""WITH t AS (SELECT doc_id,
            string_split_regex(trim(text), '\s+') AS ts
          FROM documents),
        w AS (SELECT doc_id, list_aggregate(ts[u.i+1:u.i+8], 'string_agg', ' ') AS chunk
          FROM t, unnest(range(0, greatest(len(ts) - 7, 0))) u(i)
          WHERE len(ts) >= 8)
        SELECT chunk, count(DISTINCT doc_id) AS n_docs, count(*) AS n_total
        FROM w GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2
        ORDER BY n_docs DESC, n_total DESC, chunk"""),
      doc = "boilerplate detection: exact 8-token windows repeated across distinct documents"),

    // ---- PMI collocations: the statistic BPE-style vocabulary merges
    //      and phrase mining rank by. Cross-engine exactness WITHOUT a
    //      logarithm: PMI = ln((c_ab/N2)/((c_a/N1)*(c_b/N1))) is
    //      monotone in the ratio, so ranking by the ratio IS ranking
    //      by PMI — and the ratio is computed in exactly that DIVISION
    //      shape, never the cross-multiplied int64 products (which
    //      wrap at ~10^7 tokens for frequent bigrams): int64→double
    //      conversion, /, and × are all exactly IEEE-specified, so the
    //      identical operation sequence yields bit-identical doubles
    //      in Spark and DuckDB at ANY corpus size; ln's last ULP is
    //      not specified. The tokenized frame is pinned once
    //      (localCheckpoint) — unpinned, the scan+regex tokenize runs
    //      once per downstream reference (~4×); the totals come from
    //      ONE aggregate over it. The bigram→unigram joins are
    //      vocabulary-sized (broadcast at any corpus scale); totals
    //      ride a broadcast scalar crossJoin.
    QueryDef(
      "q112_pmi_collocations",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(split(trim(col("text")), "\\s+").as("ts"))
          .filter(size(col("ts")) >= 2)
          .localCheckpoint()
        val uni = toks.select(explode(col("ts")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c_tok"))
        val totals = toks.agg(
          sum(size(col("ts"))).as("n1"),
          sum(size(col("ts")) - 1).as("n2"))
        val big = toks.select(explode(expr(
            "transform(sequence(0, size(ts) - 2), i -> struct(ts[i] AS a, ts[i+1] AS b))"))
            .as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
          .filter(col("c_ab") >= 3)
        big
          .join(uni.select(col("tok").as("a"), col("c_tok").as("c_a")), Seq("a"))
          .join(uni.select(col("tok").as("b"), col("c_tok").as("c_b")), Seq("b"))
          .crossJoin(broadcast(totals))
          .withColumn("pmi_ratio",
            (col("c_ab").cast("double") / col("n2").cast("double")) /
              ((col("c_a").cast("double") / col("n1").cast("double")) *
                (col("c_b").cast("double") / col("n1").cast("double"))))
          .select("a", "b", "c_ab", "c_a", "c_b", "pmi_ratio")
          .orderBy(col("pmi_ratio").desc, col("a").asc, col("b").asc)
          .limit(50)
      },
      Some("""WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS ts
          FROM documents WHERE len(string_split_regex(trim(text), '\s+')) >= 2),
        uni AS (SELECT u.tok, count(*) AS c_tok
          FROM t, unnest(ts) u(tok) GROUP BY u.tok),
        tot AS (SELECT sum(len(ts)) AS n1, sum(len(ts) - 1) AS n2 FROM t),
        big AS (SELECT ts[u.i+1] AS a, ts[u.i+2] AS b, count(*) AS c_ab
          FROM t, unnest(range(0, len(ts) - 1)) u(i)
          GROUP BY 1, 2 HAVING count(*) >= 3)
        SELECT a, b, c_ab, c_a, c_b,
          (CAST(c_ab AS DOUBLE) / CAST(n2 AS DOUBLE)) /
            ((CAST(c_a AS DOUBLE) / CAST(n1 AS DOUBLE)) *
             (CAST(c_b AS DOUBLE) / CAST(n1 AS DOUBLE))) AS pmi_ratio
        FROM big
        JOIN (SELECT tok AS a, c_tok AS c_a FROM uni) ua USING (a)
        JOIN (SELECT tok AS b, c_tok AS c_b FROM uni) ub USING (b)
        CROSS JOIN tot
        ORDER BY pmi_ratio DESC, a, b LIMIT 50"""),
      doc = "PMI collocations: top-50 token bigrams by pointwise mutual information, log-free exact ranking"),

    // ---- longest repeated n-gram span per document: the exact-
    //      substring repetition signal (q88 measures duplicate-n-gram
    //      FRACTIONS at fixed n; this finds the LONGEST span that
    //      repeats — the statistic substring-dedup pipelines threshold
    //      on before cutting). Entirely per-row higher-order array
    //      exprs inside whole-stage codegen: no shuffle, no UDF —
    //      at 100 TB this is a pure map over the corpus. Per-row cost
    //      is O(L² · MaxRepeatedSpan) token copies, BOUNDED by the
    //      span cap (a doc-length-driven n would make one pathological
    //      document quadratic in its own size); spans longer than the
    //      cap still report max_rep = cap, the standard "at least this
    //      long" truncation, mirrored exactly by the oracle.
    QueryDef(
      "q115_repeated_span",
      (s, d) => {
        def grams(n: String) =
          s"transform(sequence(0, size(ts) - ($n)), i -> concat_ws(' ', slice(ts, i + 1, $n)))"
        Tables.documents(s, d)
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ts"))
          .filter(size(col("ts")) >= 2)
          .withColumn("rep_ns", expr(
            s"""filter(sequence(1, least(size(ts) - 1, $MaxRepeatedSpan)),
                n -> size(${grams("n")}) != size(array_distinct(${grams("n")})))"""))
          .withColumn("max_rep", coalesce(expr("array_max(rep_ns)"), lit(0)).cast("int"))
          // the span itself: lexicographically-smallest n-gram that
          // occurs >= 2 times at n = max_rep (deterministic tie-break
          // both engines agree on — binary string order over ASCII)
          .withColumn("span", expr(
            s"""CASE WHEN max_rep = 0 THEN NULL ELSE
                array_min(filter(${grams("max_rep")},
                  g -> size(filter(${grams("max_rep")}, h -> h = g)) >= 2)) END"""))
          .select("doc_id", "max_rep", "span")
          .orderBy("doc_id")
      },
      Some {
        def grams(n: String) =
          s"list_transform(range(L - ($n) + 1), i -> array_to_string(list_slice(ts, i+1, i+($n)), ' '))"
        s"""WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents),
        t AS (SELECT doc_id, ts, len(ts) AS L FROM tok WHERE len(ts) >= 2),
        reps AS (SELECT doc_id, ts, L,
            list_filter(range(1, least(L - 1, $MaxRepeatedSpan) + 1),
              n -> len(${grams("n")}) != len(list_distinct(${grams("n")}))) AS rep_ns
          FROM t),
        mx AS (SELECT doc_id, ts, L,
            CAST(coalesce(list_max(rep_ns), 0) AS INT) AS max_rep FROM reps)
        SELECT doc_id, max_rep,
          CASE WHEN max_rep = 0 THEN NULL ELSE
            list_min(list_filter(${grams("max_rep")},
              g -> len(list_filter(${grams("max_rep")}, h -> h = g)) >= 2))
          END AS span
        FROM mx ORDER BY doc_id"""
      },
      doc = "longest repeated n-gram span per document (capped), per-row — the exact-substring repetition statistic"),

    // ---- bigram-LM perplexity scoring (q132): the CCNet-style
    //      quality signal one step past q96's unigram LM — an add-one
    //      smoothed bigram model SELF-TRAINED on the corpus (fully
    //      deterministic, no external artifact), scoring every doc by
    //      its average per-bigram negative log-likelihood. Low score =
    //      fluent/common word transitions; high = unnatural text (the
    //      filter threshold downstream curation applies).
    //      Scale shape: bigram types are vocabulary-bounded (Heaps),
    //      so the model (c2 + left-context sums) pins once and
    //      broadcasts back onto the corpus bigram stream — ONE
    //      corpus-sized pass, zero corpus shuffles beyond the model
    //      agg. Per-doc totals are ORDERED double folds (the q96/q90
    //      lesson: decimal-cast sums diverge between engines; a
    //      sorted fold is shuffle-order-independent and portable).
    QueryDef(
      "q132_bigram_loglik",
      (s, d) => bigramScored(s, d)
        .select("doc_id", "n_bigrams", "avg_nll_r")
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        bg AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
          FROM toks, unnest(range(1, len(ts))) AS u(i) WHERE len(ts) >= 2),
        c2 AS (SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY w1, w2),
        cl AS (SELECT w1, CAST(sum(n2) AS BIGINT) AS nl FROM c2 GROUP BY w1),
        vs AS (SELECT count(DISTINCT word) AS vsz FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
            FROM documents) w WHERE word <> ''),
        sc AS (SELECT doc_id, count(*) AS n_bigrams,
            list_sum(list(-ln((CAST(n2 AS DOUBLE) + 1)
              / (CAST(nl AS DOUBLE) + vsz)) ORDER BY w1, w2)) AS tot
          FROM bg JOIN c2 USING (w1, w2) JOIN cl USING (w1) CROSS JOIN vs
          GROUP BY doc_id)
        SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
          round(tot / n_bigrams, 4) AS avg_nll_r
        FROM sc ORDER BY doc_id"""),
      doc = "bigram-LM quality scoring: add-one smoothed corpus-trained bigram model, per-doc avg negative log-likelihood via ordered double folds"),

    // ---- curriculum packing (q138): the composition capstone of the
    //      quality tier — q132's fluency scores order the corpus
    //      easiest-first (curriculum learning's data schedule), exact
    //      quartiles come from GlobalRank's range-partitioned ntile
    //      (per-doc rows never cross one partition), and within each
    //      (bucket, lang) lane the docs pack greedily into 512-token
    //      training sequences (q92's cum-before window). Output: the
    //      per-sequence manifest a curriculum loader reads — sequence
    //      budget fill + its quality band [best, worst].
    //      Scale note: the packing window partitions by
    //      (bucket, lang) — buckets×langs lanes; at petabyte lane
    //      sizes the same GlobalRank offset arithmetic sub-shards a
    //      lane, identical output contract.
    QueryDef(
      "q138_curriculum_packing",
      (s, d) => {
        val bucketed = graft.operators.GlobalRank.ntileByRange(
          bigramScored(s, d), 4,
          Seq(col("avg_nll_r").asc, col("doc_id").asc), "bucket")
        val w = Window.partitionBy(col("bucket"), col("lang"))
          .orderBy(col("avg_nll_r").asc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        bucketed
          .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .withColumn("seq_id", (col("cum_before") / 512).cast("long"))
          .groupBy("bucket", "lang", "seq_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("seq_tokens"),
            min(col("avg_nll_r")).as("best_nll"),
            max(col("avg_nll_r")).as("worst_nll"))
          .orderBy("bucket", "lang", "seq_id")
      },
      Some("""WITH toks AS (SELECT doc_id, lang,
            string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        tk AS (SELECT doc_id, lang, ts,
            CAST(len(ts) AS BIGINT) AS n_tokens FROM toks WHERE len(ts) >= 2),
        bg AS (SELECT doc_id, lang, n_tokens, ts[i] AS w1, ts[i + 1] AS w2
          FROM tk, unnest(range(1, len(ts))) AS u(i)),
        c2 AS (SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY w1, w2),
        cl AS (SELECT w1, CAST(sum(n2) AS BIGINT) AS nl FROM c2 GROUP BY w1),
        vs AS (SELECT count(DISTINCT word) AS vsz FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
            FROM documents) w WHERE word <> ''),
        sc AS (SELECT doc_id, lang, n_tokens,
            round(list_sum(list(-ln((CAST(n2 AS DOUBLE) + 1)
              / (CAST(nl AS DOUBLE) + vsz)) ORDER BY w1, w2)) / count(*), 4) AS avg_nll_r
          FROM bg JOIN c2 USING (w1, w2) JOIN cl USING (w1) CROSS JOIN vs
          GROUP BY doc_id, lang, n_tokens),
        b AS (SELECT *, ntile(4) OVER (ORDER BY avg_nll_r, doc_id) AS bucket FROM sc),
        c AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (
              PARTITION BY bucket, lang ORDER BY avg_nll_r, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
          FROM b)
        SELECT CAST(bucket AS INT) AS bucket, lang, cum_before // 512 AS seq_id,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
          min(avg_nll_r) AS best_nll, max(avg_nll_r) AS worst_nll
        FROM c GROUP BY bucket, lang, cum_before // 512
        ORDER BY bucket, lang, seq_id"""),
      doc = "curriculum packing: bigram-fluency quartiles (range-partitioned ntile) packed into 512-token sequences per (bucket, lang) lane, with per-sequence quality bands"),

    // ---- Unicode NFC normalization stats (q139): the canonical-
    //      composition pass that must run before any hash-based dedup
    //      (composed U+00E9 and decomposed e+U+0301 are the SAME text
    //      but different bytes — un-normalized they fingerprint as
    //      different documents). The fixture corpus is ASCII, so the
    //      query plants known composed/decomposed suffixes by residue
    //      class; normalization itself is the native codegen
    //      [[graft.functions.NfcNormalize]] (no UDF — a per-row map
    //      inside whole-stage codegen, zero shuffles), cross-checked
    //      against DuckDB's nfc_normalize, both UAX #15.
    QueryDef(
      "q139_unicode_nfc_stats",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 4 === 0, lit(" café"))
              .when(col("doc_id") % 4 === 1, lit(" mañana"))
              .when(col("doc_id") % 4 === 2, lit(" café"))
              .otherwise(lit(""))).as("raw"))
        .select(col("doc_id"), col("raw"),
          graft.functions.TextFunctions.nfc_normalize(col("raw")).as("nfc"))
        .select(col("doc_id"),
          (col("nfc") =!= col("raw")).as("changed"),
          length(col("raw")).as("len_raw"),
          length(col("nfc")).as("len_nfc"),
          md5(col("nfc")).as("nfc_md5"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
          nfc_normalize(raw) <> raw AS changed,
          CAST(length(raw) AS INT) AS len_raw,
          CAST(length(nfc_normalize(raw)) AS INT) AS len_nfc,
          md5(nfc_normalize(raw)) AS nfc_md5
        FROM (SELECT doc_id, text || CASE
            WHEN doc_id % 4 = 0 THEN ' café'
            WHEN doc_id % 4 = 1 THEN ' mañana'
            WHEN doc_id % 4 = 2 THEN ' café'
            ELSE '' END AS raw
          FROM documents) t
        ORDER BY doc_id"""),
      doc = "Unicode NFC normalization via the native codegen expression: per-doc changed flag, codepoint-length delta, normalized-content md5"),

    // ---- Count-min-sketch heavy-hitter audit (q147): the q146
    //      symmetry extended to the FREQUENCY sketch — a d=4 × w=32
    //      count-min sketch of the corpus token stream (Cormode &
    //      Muthukrishnan 2005), its estimate audited against the exact
    //      count for the top-20 heavy hitters. The overestimate
    //      (always ≥ 0 — CMS never undercounts) is the number that
    //      justifies sketching term frequencies in O(d·w) memory
    //      instead of a vocabulary-sized hash table at 100 TB. The
    //      width is deliberately SMALLER than the test vocabulary
    //      (31 terms) so bucket collisions — the thing the audit
    //      exists to measure — actually occur; a production sketch
    //      sizes w ≈ e/ε for the tolerated overestimate εN.
    //
    //      Determinism across engines: the hash is md5('cms<r>:'||term)
    //      with the bucket decoded from the first two hex chars via
    //      instr('0123456789abcdef', c) arithmetic — no engine-native
    //      hash, no fp. Everything is exact integer.
    //
    //      Scale: ONE corpus scan → vocabulary-sized exact counts
    //      (the same hash agg q83 already pays); the sketch rows are a
    //      1024-row groupBy of that vocabulary frame, broadcast back.
    //      Nothing after the first agg touches corpus-sized data. A
    //      streaming ingest would maintain the 1024 cells with
    //      map-side combine and never hold the vocabulary at all.
    QueryDef(
      "q147_cms_heavyhitter_audit",
      (s, d) => {
        val exact = Tables.documents(s, d)
          .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
          .filter(col("term") =!= "")
          .groupBy("term").agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val hashed = exact
          .select(col("term"), col("cnt"),
            explode(expr("array(0, 1, 2, 3)")).as("r"))
          .withColumn("h", md5(concat(lit("cms"), col("r"), lit(":"), col("term"))))
          .withColumn("bucket",
            ((expr("instr('0123456789abcdef', substring(h, 1, 1))") - 1) * 16 +
              (expr("instr('0123456789abcdef', substring(h, 2, 1))") - 1)) % 32)
          .select("term", "cnt", "r", "bucket")
        val cells = hashed.groupBy("r", "bucket").agg(sum(col("cnt")).as("bc"))
        val est = hashed.select("term", "r", "bucket")
          .join(broadcast(cells), Seq("r", "bucket"))
          .groupBy("term").agg(min(col("bc")).as("cms_est"))
        exact.join(est, Seq("term"))
          .select(col("term"), col("cnt"), col("cms_est"),
            (col("cms_est") - col("cnt")).as("over_est"))
          .orderBy(col("cnt").desc, col("term").asc)
          .limit(20)
      },
      Some("""WITH toks AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          FROM documents),
        exact AS (SELECT term, count(*) AS cnt FROM toks WHERE term <> '' GROUP BY term),
        hashed AS (SELECT term, cnt, r,
            ((instr('0123456789abcdef', substring(md5('cms' || r || ':' || term), 1, 1)) - 1) * 16 +
             (instr('0123456789abcdef', substring(md5('cms' || r || ':' || term), 2, 1)) - 1)) % 32 AS bucket
          FROM exact CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) rs),
        cells AS (SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS bc
          FROM hashed GROUP BY r, bucket),
        est AS (SELECT term, CAST(min(cells.bc) AS BIGINT) AS cms_est
          FROM hashed JOIN cells ON hashed.r = cells.r AND hashed.bucket = cells.bucket
          GROUP BY term)
        SELECT exact.term, exact.cnt, est.cms_est, est.cms_est - exact.cnt AS over_est
        FROM exact JOIN est ON exact.term = est.term
        ORDER BY exact.cnt DESC, exact.term LIMIT 20"""),
      doc = "Count-min sketch (d=4, w=32) frequency estimates audited against exact counts for the top-20 heavy hitters — the overestimate bound that justifies O(d·w)-memory frequency tracking at scale"),

    // ---- BM25 retrieval (q148): the ranked keyword search a corpus
    //      index actually serves (Robertson & Zaragoza 2009; k1=1.2,
    //      b=0.75), for a fixed 3-term query. Per-doc tf comes from
    //      size(filter(...)) — a pure per-row map, NO token explode
    //      and NO shuffle for the scoring side; the only aggregation
    //      is the ONE-ROW corpus-stats frame (N, Σdl, per-term df)
    //      broadcast back. At 100 TB this is a single scan plus a
    //      scalar attach — the classic "score everything, keep top-k"
    //      shape with TakeOrderedAndProject instead of a global sort.
    //
    //      fp parity: idf/score arithmetic is written as the SAME
    //      left-associated expression text in both engines; ln differs
    //      in the last ulp across libms so the score is emitted on the
    //      1e-4 rounding grid (the q83 lesson) and ties order by
    //      doc_id.
    QueryDef(
      "q148_bm25_retrieval",
      (s, d) => {
        val qterms = Seq("spark", "hash", "window")
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("ts"))
          .select(
            Seq(col("doc_id"), size(col("ts")).as("dl")) ++
              qterms.map(t =>
                expr(s"size(filter(ts, x -> x = '$t'))").as(s"tf_$t")): _*)
        val statCols =
          Seq(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")) ++
            qterms.map(t =>
              sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
        val stats = docs.agg(statCols.head, statCols.tail: _*)
        val termScore = qterms.map(t =>
          s"""ln(((n_docs - df_$t + 0.5) / (df_$t + 0.5)) + 1.0) *
             (tf_$t * 2.2) / (tf_$t + 1.2 * (0.25 + 0.75 * (dl / avgdl)))""")
          .mkString(" + ")
        docs.crossJoin(broadcast(stats))
          .withColumn("avgdl",
            col("sum_dl").cast("double") / col("n_docs").cast("double"))
          .withColumn("score", expr(termScore))
          .select(col("doc_id"),
            col("tf_spark").cast("int").as("tf_spark"),
            col("tf_hash").cast("int").as("tf_hash"),
            col("tf_window").cast("int").as("tf_window"),
            col("dl").cast("int").as("dl"),
            round(col("score"), 4).as("score_r"))
          .orderBy(col("score_r").desc, col("doc_id").asc)
          .limit(15)
      },
      Some {
        val termScore = Seq("spark", "hash", "window").map(t =>
          s"""ln(((n_docs - df_$t + 0.5) / (df_$t + 0.5)) + 1.0) *
             (tf_$t * 2.2) / (tf_$t + 1.2 * (0.25 + 0.75 * (dl / avgdl)))""")
          .mkString(" + ")
        s"""WITH docs AS (SELECT doc_id, len(ts) AS dl,
            len(list_filter(ts, x -> x = 'spark')) AS tf_spark,
            len(list_filter(ts, x -> x = 'hash')) AS tf_hash,
            len(list_filter(ts, x -> x = 'window')) AS tf_window
          FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
            FROM documents) t),
        stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
            CAST(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_spark,
            CAST(sum(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_hash,
            CAST(sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_window
          FROM docs),
        scored AS (SELECT doc_id, tf_spark, tf_hash, tf_window, dl,
            $termScore AS score
          FROM (SELECT docs.*, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl, n_docs,
              df_spark, df_hash, df_window FROM docs CROSS JOIN stats) t)
        SELECT doc_id, CAST(tf_spark AS INT) AS tf_spark,
          CAST(tf_hash AS INT) AS tf_hash, CAST(tf_window AS INT) AS tf_window,
          CAST(dl AS INT) AS dl, round(score, 4) AS score_r
        FROM scored ORDER BY score_r DESC, doc_id LIMIT 15"""
      },
      doc = "BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed 3-term query: per-row tf via array filter (no explode), one-row corpus-stats broadcast, top-15 via ordered limit"),

    // ---- stupid-backoff LM scoring (q154): the web-scale smoothing
    //      family (Brants et al. 2007 — "Large Language Models in
    //      Machine Translation") q132's add-1 model doesn't cover:
    //      bigram MLE when the bigram was SEEN in training, else back
    //      off to 0.4 × the add-1 unigram. The CCNet deployment shape:
    //      the LM trains on the SMALL curated slice (source = 'src0' —
    //      the Wikipedia role) and scores the whole raw pool, so
    //      pool-only bigrams genuinely exercise the backoff path
    //      (~20% of instances at sf0.01; n_backoff counts them per
    //      doc) while src0 scores in-domain.
    //
    //      Scale: same shape as q132 — one corpus scan for bigrams,
    //      vocab-sized count frames broadcast back, per-doc ordered
    //      double folds, per-row CASE arithmetic. Nothing quadratic.
    QueryDef(
      "q154_backoff_lm",
      (s, d) => {
        val bigrams = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            split(lower(trim(col("text"))), "\\s+").as("ts"))
          .filter(size(col("ts")) >= 2)
          .select(col("doc_id"), col("source"),
            explode(expr(
              "transform(sequence(1, size(ts) - 1), i -> struct(ts[i-1] AS w1, ts[i] AS w2))")).as("bg"))
          .select(col("doc_id"), col("source"),
            col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        val train = bigrams.filter(col("source") === "src0")
        val c2 = train.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
          .localCheckpoint()
        val cl = c2.groupBy("w1").agg(sum(col("c2")).as("cl"))
        val uni = Tables.documents(s, d).filter(col("source") === "src0")
          .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
          .filter(col("w") =!= "")
          .groupBy("w").agg(count(lit(1)).as("c1"))
          .localCheckpoint()
        val tot = uni.agg(sum(col("c1")).as("tt"), count(lit(1)).as("v"))
        bigrams
          .join(broadcast(c2), Seq("w1", "w2"), "left")
          .join(broadcast(cl), Seq("w1"), "left")
          .join(broadcast(uni.withColumnRenamed("w", "w2")), Seq("w2"), "left")
          .crossJoin(broadcast(tot))
          .withColumn("sc", expr(
            """CASE WHEN coalesce(c2, 0) > 0 THEN ln(CAST(c2 AS DOUBLE) / cl)
               ELSE ln(0.4 * ((coalesce(c1, 0) + 1.0) / (tt + v))) END"""))
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_bigrams"),
            sum(when(coalesce(col("c2"), lit(0L)) === 0, 1L).otherwise(0L)).as("n_backoff"),
            expr("""aggregate(transform(array_sort(collect_list(struct(w1, w2, sc))),
                 x -> x.sc), 0D, (a, y) -> a + y)""").as("tot_sc"))
          .select(col("doc_id"), col("source"), col("n_bigrams"), col("n_backoff"),
            round(col("tot_sc") / col("n_bigrams"), 4).as("avg_sc_r"))
          .orderBy("doc_id")
      },
      Some("""WITH bg AS (SELECT doc_id, source, ts[i] AS w1, ts[i+1] AS w2
          FROM (SELECT doc_id, source,
              string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents) t,
            unnest(range(1, len(ts))) AS r(i)
          WHERE len(ts) >= 2),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg WHERE source = 'src0' GROUP BY w1, w2),
        cl AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS cl FROM c2 GROUP BY w1),
        uni AS (SELECT w AS w2, count(*) AS c1
          FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
            FROM documents WHERE source = 'src0') u
          WHERE w <> '' GROUP BY w),
        tot AS (SELECT CAST(sum(c1) AS BIGINT) AS tt, CAST(count(*) AS BIGINT) AS v FROM uni),
        sc AS (SELECT doc_id, source,
            coalesce(c2.c2, 0) AS c2v,
            CASE WHEN coalesce(c2.c2, 0) > 0 THEN ln(CAST(c2.c2 AS DOUBLE) / cl.cl)
                 ELSE ln(0.4 * ((coalesce(uni.c1, 0) + 1.0) / (tt + v))) END AS s,
            bg.w1, bg.w2
          FROM bg
          LEFT JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
          LEFT JOIN cl ON bg.w1 = cl.w1
          LEFT JOIN uni ON bg.w2 = uni.w2
          CROSS JOIN tot)
        SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_bigrams,
          CAST(sum(CASE WHEN c2v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
          round(list_sum(list(s ORDER BY w1, w2)) / count(*), 4) AS avg_sc_r
        FROM sc GROUP BY doc_id, source ORDER BY doc_id""")
    , doc = "stupid-backoff bigram scoring (Brants et al. 2007): MLE bigram when seen in the curated-slice-trained model, 0.4x add-1 unigram backoff otherwise, with per-doc backoff counts — the CCNet-style cross-domain quality signal"),

    // ---- labeler-agreement audit (q160): Cohen's kappa per source
    //      between the gold `lang` column and the [[withLangPred]]
    //      heuristic labeler — the annotation-QC number that tells a
    //      pipeline whether a cheap labeler is trustworthy enough to
    //      fan out, per source (a labeler can agree on src0's clean
    //      prose and fail on a noisy mirror). Multi-class kappa:
    //      po = diag/n observed agreement, pe = Σ_k p_gold(k)·p_pred(k)
    //      chance agreement from the marginals, κ = (po−pe)/(1−pe),
    //      NULL when pe = 1 (degenerate one-class source).
    //
    //      Shape: ONE corpus scan folds straight into the
    //      (source, gold, pred) confusion agg — map-side combinable,
    //      output ≤ sources × labels², so every join after the first
    //      agg is over kilobytes regardless of corpus size. The
    //      confusion frame is pinned once and feeds all three
    //      marginal branches.
    QueryDef(
      "q160_labeler_kappa",
      (s, d) => {
        val conf = withLangPred(Tables.documents(s, d))
          .select(col("source"), col("lang").as("gold"),
            col("lang_pred").as("pred"))
          .groupBy("source", "gold", "pred")
          .agg(count(lit(1)).as("c"))
          .localCheckpoint()
        val nd = conf.groupBy("source")
          .agg(sum(col("c")).as("n"),
            sum(when(col("gold") === col("pred"), col("c")).otherwise(0L))
              .as("diag"))
        val rowm = conf.groupBy(col("source"), col("gold").as("k"))
          .agg(sum(col("c")).as("mg"))
        val colm = conf.groupBy(col("source").as("src2"), col("pred").as("k2"))
          .agg(sum(col("c")).as("mp"))
        val pen = rowm
          .join(colm, rowm("source") === colm("src2") && rowm("k") === colm("k2"))
          .groupBy(rowm("source"))
          .agg(sum(col("mg") * col("mp")).as("pe_num"))
        nd.join(pen, Seq("source"), "left")
          .select(col("source"), col("n"),
            (col("diag").cast("double") / col("n")).as("po"),
            (coalesce(col("pe_num"), lit(0L)).cast("double") /
              (col("n").cast("double") * col("n"))).as("pe"))
          .select(col("source"), col("n"),
            round(col("po"), 4).as("po_r"),
            round(col("pe"), 4).as("pe_r"),
            // roundZ folds IEEE −0.0 to +0.0: a kappa that rounds to
            // exact zero otherwise diverges from the oracle on the SIGN
            // of zero — numerically equal, but distinguishable by
            // repr-level comparators (first tripped at sf1, where two
            // sources hit kappa = 0 exactly)
            when(col("pe") === 1.0, lit(null).cast("double"))
              .otherwise(
                QueryDef.roundZ((col("po") - col("pe")) / (lit(1.0) - col("pe")), 4))
              .as("kappa_r"))
          .orderBy("source")
      },
      Some(s"""WITH scored AS (SELECT source, gold, $oracleLangPredCase AS pred
          FROM (SELECT source, lang AS gold, $oracleLangCounts
            FROM (SELECT source, lang, string_split_regex(trim(text), '\\s+') AS ts FROM documents) t0) t),
        conf AS (SELECT source, gold, pred, count(*) AS c
          FROM scored GROUP BY source, gold, pred),
        nd AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
            CAST(sum(CASE WHEN gold = pred THEN c ELSE 0 END) AS BIGINT) AS diag
          FROM conf GROUP BY source),
        rowm AS (SELECT source, gold AS k, sum(c) AS mg FROM conf GROUP BY source, gold),
        colm AS (SELECT source, pred AS k, sum(c) AS mp FROM conf GROUP BY source, pred),
        pen AS (SELECT rowm.source, sum(mg * mp) AS pe_num
          FROM rowm JOIN colm ON rowm.source = colm.source AND rowm.k = colm.k
          GROUP BY rowm.source),
        j AS (SELECT nd.source, n,
            CAST(diag AS DOUBLE) / n AS po,
            CAST(coalesce(pe_num, 0) AS DOUBLE) / (CAST(n AS DOUBLE) * n) AS pe
          FROM nd LEFT JOIN pen ON nd.source = pen.source)
        SELECT source, n, round(po, 4) AS po_r, round(pe, 4) AS pe_r,
          CASE WHEN pe = 1 THEN NULL
               ELSE round((po - pe) / (1 - pe), 4) + 0.0 END AS kappa_r
        FROM j ORDER BY source"""),
      doc = "annotation-QC audit: per-source multi-class Cohen's kappa between the gold lang column and the shared marker-vote labeler — one confusion-matrix agg per scan, kilobyte-sized marginal joins after"),

    // ---- model-based quality filter (q162): fixed-weight logistic
    //      inference over q32's feature family — the fasttext-style
    //      quality-classifier INFERENCE pass every curation pipeline
    //      runs at full corpus width (training happens offline on a
    //      labeled slice; what must scale is scoring). Features:
    //      stopword ratio, type-token ratio, chars-per-token, and
    //      log token count; score = σ(w·x) with weights written as
    //      ONE left-associated arithmetic chain replicated verbatim
    //      in the oracle, so fp evaluation order is identical in both
    //      engines. Pure per-row map over a single scan — no shuffle
    //      at all until the ORDER BY; at 100 TB this is the
    //      embarrassingly-parallel ideal and the plan should show one
    //      WholeStageCodegen span over the scan.
    QueryDef(
      "q162_quality_logistic",
      (s, d) => qualityScored(s, d)
        .select(col("doc_id"), col("source"),
          round(col("score"), 4).as("score_r"),
          when(col("score") >= 0.5, 1).otherwise(0).as("keep"))
        .orderBy("doc_id"),
      Some(s"""WITH $oracleScoreCtes
        SELECT doc_id, source, round(score, 4) AS score_r,
          CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS keep
        FROM qscore ORDER BY doc_id"""),
      doc = "fasttext-style quality-classifier inference: fixed-weight logistic over stopword/TTR/chars-per-token/log-length features, identical left-associated fp chain in both engines, shuffle-free single-scan map"),

    // ---- character-entropy quality signal (q172): Shannon entropy of
    //      each document's character distribution — low entropy flags
    //      template/repetitive junk, implausibly high entropy flags
    //      binary-in-text encoding blowups; a standard cheap filter
    //      feature. Computed as H = ln(n) − (Σ c·ln c)/n so the fold
    //      needs only per-char counts (no second pass for n inside the
    //      sum), with the Σ accumulated in character order for the
    //      engine-identical fp trace. The (doc, char) agg is map-side
    //      combinable and its output is bounded by docs × alphabet,
    //      not corpus bytes.
    QueryDef(
      "q172_char_entropy",
      (s, d) => charEntropy(s, d)
        .select(col("doc_id"), col("n"), col("n_unique_chars"),
          round(col("entropy"), 4).as("entropy_r"))
        .orderBy("doc_id"),
      Some(s"""WITH $oracleEntropyCtes
        SELECT doc_id, n, n_unique_chars, round(entropy, 4) AS entropy_r
        FROM ent ORDER BY doc_id"""),
      doc = "per-document Shannon character entropy via H = ln(n) - (sum c ln c)/n: map-side-combinable (doc, char) counts bounded by alphabet size, character-ordered fold"),

    // ---- rank-normalized signal ensemble (q176): blend two quality
    //      signals on incomparable scales — the q162 classifier score
    //      and the q172 character entropy — by converting each to its
    //      exact global percent-rank and averaging. Rank normalization
    //      is the standard way to ensemble heterogeneous curation
    //      signals (scores aren't calibrated against each other;
    //      ranks are). Both rankings use [[GlobalRank.withRowIndex]]
    //      (range partition + prefix offsets — exact global
    //      row_number, never a single-partition window), and both
    //      signal frames are the SAME shared definitions their own
    //      queries run.
    QueryDef(
      "q176_signal_ensemble",
      (s, d) => {
        // rank on the 6-decimal-ROUNDED signal: raw exp()-derived
        // doubles can differ by 1 ulp between JVM and libm, silently
        // swapping adjacent ranks; the rounded key collapses ulp noise
        // and any resulting ties fall to the doc_id tiebreak.
        val sc = qualityScored(s, d)
          .select(col("doc_id"), round(col("score"), 6).as("rscore"))
          .localCheckpoint()
        val en = charEntropy(s, d)
          .select(col("doc_id"), round(col("entropy"), 6).as("rent"))
          .localCheckpoint()
        val r1 = GlobalRank.withRowIndex(sc,
          Seq(col("rscore").desc, col("doc_id").asc), "rk1")
        val r2 = GlobalRank.withRowIndex(en,
          Seq(col("rent").desc, col("doc_id").asc), "rk2")
        val nn = sc.agg(count(lit(1)).as("n"))
        r1.select("doc_id", "rk1")
          .join(r2.select("doc_id", "rk2"), Seq("doc_id"))
          .crossJoin(broadcast(nn))
          .withColumn("pr1", (col("rk1") - 1).cast("double") / (col("n") - 1))
          .withColumn("pr2", (col("rk2") - 1).cast("double") / (col("n") - 1))
          .select(col("doc_id"),
            round(col("pr1"), 4).as("pr_quality_r"),
            round(col("pr2"), 4).as("pr_entropy_r"),
            round((col("pr1") + col("pr2")) / 2.0, 4).as("ensemble_r"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $oracleScoreCtes, $oracleEntropyCtes,
        r1 AS (SELECT doc_id, row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rk1 FROM qscore),
        r2 AS (SELECT doc_id, row_number() OVER (ORDER BY round(entropy, 6) DESC, doc_id) AS rk2 FROM ent),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qscore)
        SELECT r1.doc_id,
          round(CAST(rk1 - 1 AS DOUBLE) / (n - 1), 4) AS pr_quality_r,
          round(CAST(rk2 - 1 AS DOUBLE) / (n - 1), 4) AS pr_entropy_r,
          round((CAST(rk1 - 1 AS DOUBLE) / (n - 1)
            + CAST(rk2 - 1 AS DOUBLE) / (n - 1)) / 2.0, 4) AS ensemble_r
        FROM r1 JOIN r2 ON r1.doc_id = r2.doc_id CROSS JOIN nn
        ORDER BY r1.doc_id"""),
      doc = "rank-normalized ensemble of the classifier score and character entropy: exact global percent-ranks via the distributed row-index primitive, averaged — heterogeneous-signal blending on rank scale"),

    // ---- retrieval evaluation (q179): the IR eval harness on top of
    //      the q148 scoring model — every 25th document becomes a
    //      QUERY (its first five tokens), the corpus is ranked for
    //      each query by BM25, and the metric is self-retrieval: the
    //      rank at which the source document comes back, with
    //      reciprocal rank (MRR's per-query term) and a hit@10 bit.
    //
    //      The scale shape is the real retrieval one — NO
    //      query×corpus cross join: queries explode to (qid, term),
    //      candidates come from an equi-join against the posting
    //      list (doc, term, tf), and scores aggregate per (qid, doc)
    //      with the contribution fold in term order. Ranking uses
    //      the ROUNDED score (the q176 ulp lesson) with doc_id ties,
    //      per-qid windows over candidate sets only.
    QueryDef(
      "q179_retrieval_eval",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("ts"))
          .withColumn("dl", size(col("ts")))
          .localCheckpoint()
        val postings = toks
          .select(col("doc_id"), explode(col("ts")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
          .localCheckpoint()
        val qterms = toks.filter(col("doc_id") % 25 === 0)
          .select(col("doc_id").as("qid"),
            explode(array_distinct(expr("slice(ts, 1, 5)"))).as("term"))
        val df = postings.groupBy("term").agg(count(lit(1)).as("df"))
        val stats = toks.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        val cand = qterms
          .join(postings, Seq("term"))
          .join(broadcast(df), Seq("term"))
          .join(toks.select(col("doc_id"), col("dl")), Seq("doc_id"))
          .crossJoin(broadcast(stats))
          .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs").cast("double"))
          .withColumn("contrib", expr(
            """ln(((n_docs - df + 0.5) / (df + 0.5)) + 1.0) *
               (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))"""))
        val scored = cand.groupBy("qid", "doc_id")
          .agg(expr("""aggregate(transform(array_sort(collect_list(struct(term, contrib))),
               x -> x.contrib), 0D, (a, v) -> a + v)""").as("score"))
          .withColumn("rs", round(col("score"), 4))
        val wq = Window.partitionBy("qid").orderBy(col("rs").desc, col("doc_id").asc)
        scored
          .withColumn("rank", row_number().over(wq))
          .filter(col("doc_id") === col("qid"))
          .select(col("qid"), col("rank").cast("int").as("self_rank"),
            round(when(col("rank") <= 10, lit(1.0) / col("rank")).otherwise(0.0), 4)
              .as("rr_r"),
            when(col("rank") <= 10, 1).otherwise(0).as("hit10"))
          .orderBy("qid")
      },
      Some("""WITH toks AS (SELECT doc_id,
            string_split_regex(lower(trim(text)), '\s+') AS ts,
            CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT) AS dl
          FROM documents),
        postings AS (SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(ts) AS term FROM toks) u
          GROUP BY doc_id, term),
        qterms AS (SELECT doc_id AS qid, unnest(list_distinct(ts[1:5])) AS term
          FROM toks WHERE doc_id % 25 = 0),
        df AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
        stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM toks),
        cand AS (SELECT qid, p.doc_id, p.term,
            ln(((n_docs - df + 0.5) / (df + 0.5)) + 1.0) *
               (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))) AS contrib
          FROM qterms q
          JOIN postings p ON q.term = p.term
          JOIN df ON p.term = df.term
          JOIN toks t ON p.doc_id = t.doc_id
          CROSS JOIN (SELECT n_docs, sum_dl,
            CAST(sum_dl AS DOUBLE) / n_docs AS avgdl FROM stats) s),
        scored AS (SELECT qid, doc_id,
            round(list_sum(list(contrib ORDER BY term)), 4) AS rs
          FROM cand GROUP BY qid, doc_id),
        ranked AS (SELECT qid, doc_id,
            row_number() OVER (PARTITION BY qid ORDER BY rs DESC, doc_id) AS rank
          FROM scored)
        SELECT qid, CAST(rank AS INT) AS self_rank,
          round(CASE WHEN rank <= 10 THEN 1.0 / rank ELSE 0.0 END, 4) AS rr_r,
          CASE WHEN rank <= 10 THEN 1 ELSE 0 END AS hit10
        FROM ranked WHERE doc_id = qid ORDER BY qid"""),
      doc = "self-retrieval IR eval over the q148 BM25 model: every 25th doc queries with its first five tokens, candidates via posting-list equi-joins (no query-corpus cross join), per-query rank/reciprocal-rank/hit@10 on the rounded-score grid"),

    // ---- budget-constrained mixture allocation (q181): the planning
    //      step between scoring and training — given a token budget
    //      (40% of the corpus) and a per-source quality signal (mean
    //      q162 classifier score), fill the budget greedily from the
    //      best source down: whole sources until the budget runs
    //      short, one partial source at the boundary, zeros after.
    //      The greedy fill is exact integer arithmetic over a
    //      source-level prefix sum — the cumulative window runs over
    //      the 20-row source frame (post-agg, source-bounded
    //      cardinality), ordered by (rounded quality desc, source)
    //      per the q176 ulp rule. The per-source score sum is a
    //      FIXED-POINT BIGINT sum on the 10^9 grid (floor(score·1e9);
    //      the q150/q126 pattern): O(1) agg buffers, map-side
    //      combinable, bit-exact in any order — int64-safe to ~9·10^9
    //      docs per source for scores in (0,1).
    QueryDef(
      "q181_budget_allocation",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val bySrc = Tables.documents(s, d)
          .withColumn("nt", size(split(trim(col("text")), "\\s+")).cast("long"))
          .groupBy("source").agg(sum(col("nt")).as("n_tokens"))
        val qual = qualityScored(s, d).groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("CAST(floor(score * 1e9) AS BIGINT)")).as("ssq"))
          .withColumn("q",
            round(col("ssq").cast("double") / lit(1e9) / col("n_docs"), 6))
        val tot = bySrc.agg(sum(col("n_tokens")).as("tot"))
        val w = Window.orderBy(col("q").desc, col("source").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        bySrc.join(qual, Seq("source"))
          .crossJoin(broadcast(tot))
          .withColumn("budget", expr("tot * 2 div 5"))
          .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .withColumn("alloc", greatest(lit(0L),
            least(col("n_tokens"), col("budget") - col("cum_before"))))
          .select(col("source"), col("n_tokens"), round(col("q"), 4).as("q_r"),
            col("alloc").as("alloc_tokens"),
            round(col("alloc").cast("double") / col("n_tokens"), 4).as("frac_r"))
          .orderBy("source")
      },
      Some(s"""WITH $oracleScoreCtes,
        bysrc AS (SELECT source,
            CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        qual AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            round(CAST(sum(CAST(floor(score * 1e9) AS BIGINT)) AS DOUBLE)
              / 1e9 / count(*), 6) AS q
          FROM qscore GROUP BY source),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM bysrc),
        g AS (SELECT bysrc.source, n_tokens, q, tot * 2 // 5 AS budget,
            coalesce(sum(n_tokens) OVER (ORDER BY q DESC, bysrc.source
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
          FROM bysrc JOIN qual ON bysrc.source = qual.source CROSS JOIN tot)
        SELECT source, n_tokens, round(q, 4) AS q_r,
          CAST(greatest(0, least(n_tokens, budget - cum_before)) AS BIGINT) AS alloc_tokens,
          round(CAST(greatest(0, least(n_tokens, budget - cum_before)) AS DOUBLE)
            / n_tokens, 4) AS frac_r
        FROM g ORDER BY source"""),
      doc = "greedy token-budget mixture allocation: whole best-quality sources first, one partial at the boundary — integer prefix-sum fill over the source frame, quality on the rounded grid"),

    // ---- Heaps'-law fit (q182): vocabulary growth V(N) ≈ K·N^β over
    //      the corpus in doc_id order — q167's companion (Zipf is the
    //      frequency head, Heaps the vocabulary curve); β far from
    //      the textbook 0.4–0.6 band flags template spam or vocabulary
    //      truncation, and the fitted curve sizes tokenizer vocab for
    //      a target corpus scale. The trick that keeps this ONE pass:
    //      a term joins the vocabulary at its FIRST document
    //      (min doc_id per term), so cumulative vocabulary at every
    //      checkpoint is a bucket-cumsum over first-occurrence
    //      buckets — no per-checkpoint rescans. 20 checkpoints,
    //      regression input fixed-size at any corpus, k-ordered folds,
    //      same least-squares text as q167.
    QueryDef(
      "q182_heaps_fit",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
          .filter(col("term") =!= "")
        val nd = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
        val wB = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
        val vb = toks.groupBy("term").agg(min(col("doc_id")).as("fd"))
          .crossJoin(broadcast(nd))
          .select(expr("fd div (n_docs div 20)").as("b"))
          .filter(col("b") < 20)
          .groupBy("b").agg(count(lit(1)).as("dv"))
        val nb = toks.crossJoin(broadcast(nd))
          .select(expr("doc_id div (n_docs div 20)").as("b"))
          .filter(col("b") < 20)
          .groupBy("b").agg(count(lit(1)).as("dn"))
        // left from nb: every bucket has tokens, but a bucket could
        // (in principle) add no NEW terms — it must still checkpoint
        val xy = nb.join(vb, Seq("b"), "left")
          .withColumn("v", sum(coalesce(col("dv"), lit(0L))).over(wB))
          .withColumn("n", sum(col("dn")).over(wB))
          .select(col("b"), log(col("n").cast("double")).as("x"),
            log(col("v").cast("double")).as("y"))
        def fold(e: String) = expr(
          s"""aggregate(transform(array_sort(collect_list(struct(b, x, y))),
             s -> $e), 0D, (a, v) -> a + v)""")
        xy.agg(count(lit(1)).as("n"),
            fold("s.x").as("sx"), fold("s.y").as("sy"),
            fold("s.x * s.y").as("sxy"),
            fold("s.x * s.x").as("sxx"), fold("s.y * s.y").as("syy"))
          .select(col("n"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx"))).as("beta"),
            col("sx"), col("sy"), col("sxx"), col("syy"), col("sxy"))
          .select(col("n").as("n_points"),
            QueryDef.roundZ(col("beta"), 4).as("beta_r"),
            QueryDef.roundZ((col("sy") - col("beta") * col("sx")) / col("n"), 4)
              .as("intercept_r"),
            QueryDef.roundZ(((col("n") * col("sxy") - col("sx") * col("sy")) *
                (col("n") * col("sxy") - col("sx") * col("sy"))) /
              ((col("n") * col("sxx") - col("sx") * col("sx")) *
                (col("n") * col("syy") - col("sy") * col("sy"))), 4).as("r2_r"))
      },
      Some("""WITH toks AS (SELECT doc_id, term
          FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
            FROM documents) u WHERE term <> ''),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        vb AS (SELECT b, count(*) AS dv FROM (
            SELECT fd // (n_docs // 20) AS b
            FROM (SELECT term, min(doc_id) AS fd FROM toks GROUP BY term) f
            CROSS JOIN nd) t
          WHERE b < 20 GROUP BY b),
        nb AS (SELECT b, count(*) AS dn FROM (
            SELECT doc_id // (n_docs // 20) AS b FROM toks CROSS JOIN nd) t
          WHERE b < 20 GROUP BY b),
        xy AS (SELECT b,
            ln(CAST(sum(dn) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)) AS x,
            ln(CAST(sum(coalesce(dv, 0)) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)) AS y
          FROM nb LEFT JOIN vb USING (b)),
        sums AS (SELECT CAST(count(*) AS BIGINT) AS n,
            list_sum(list(x ORDER BY b)) AS sx,
            list_sum(list(y ORDER BY b)) AS sy,
            list_sum(list(x * y ORDER BY b)) AS sxy,
            list_sum(list(x * x ORDER BY b)) AS sxx,
            list_sum(list(y * y ORDER BY b)) AS syy
          FROM xy),
        fit AS (SELECT n, sx, sy, sxy, sxx, syy,
            (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta FROM sums)
        SELECT n AS n_points, round(beta, 4) + 0.0 AS beta_r,
          round((sy - beta * sx) / n, 4) + 0.0 AS intercept_r,
          round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
            ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) + 0.0 AS r2_r
        FROM fit"""),
      doc = "Heaps'-law vocabulary-growth fit: first-occurrence bucketing makes cumulative vocabulary one agg + a 20-row cumsum (no per-checkpoint rescans), then the q167 least-squares text over ln V vs ln N"),

    // ---- token-weighted median quality (q183): per source, the
    //      score below which half the TOKENS (not docs) sit — the
    //      robust central-quality statistic a mixture planner reads
    //      (mean score over-weights many short docs; the
    //      token-weighted median answers "what quality is the typical
    //      token"). Exact lower weighted median by integer rule:
    //      min grid score s with 2·cumweight(s) ≥ total.
    //
    //      Scale shape: scores live on the 1e-6 ROUNDING GRID (the
    //      q176 rule), so the per-(source, score) agg — and therefore
    //      the cumulative window — is bounded by sources × grid
    //      points, independent of corpus size. That grid bound is
    //      what makes exact weighted order statistics distributable.
    QueryDef(
      "q183_weighted_median_quality",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val scored = qualityScored(s, d)
          .withColumn("rscore", round(col("score"), 6))
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).cast("long").as("w"))
        val grid = scored.join(toks, Seq("doc_id"))
          .groupBy("source", "rscore").agg(sum(col("w")).as("gw"))
        val wc = Window.partitionBy("source").orderBy("rscore")
          .rowsBetween(Window.unboundedPreceding, 0)
        val tot = grid.groupBy("source").agg(sum(col("gw")).as("tw"))
        grid
          .withColumn("cum", sum(col("gw")).over(wc))
          .join(broadcast(tot), Seq("source"))
          .filter(col("cum") * 2 >= col("tw"))
          .groupBy("source")
          .agg(max(col("tw")).as("total_tokens"),
            min(col("rscore")).as("wmedian"))
          .select(col("source"), col("total_tokens"),
            round(col("wmedian"), 4).as("wmedian_r"))
          .orderBy("source")
      },
      Some(s"""WITH $oracleScoreCtes,
        toks AS (SELECT doc_id,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS w
          FROM documents),
        grid AS (SELECT source, round(score, 6) AS rscore, CAST(sum(w) AS BIGINT) AS gw
          FROM qscore JOIN toks ON qscore.doc_id = toks.doc_id
          GROUP BY source, round(score, 6)),
        cum AS (SELECT source, rscore, gw,
            sum(gw) OVER (PARTITION BY source ORDER BY rscore
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM grid),
        tot AS (SELECT source, CAST(sum(gw) AS BIGINT) AS tw FROM grid GROUP BY source)
        SELECT cum.source, max(tw) AS total_tokens,
          round(min(rscore), 4) AS wmedian_r
        FROM cum JOIN tot ON cum.source = tot.source
        WHERE cum * 2 >= tw
        GROUP BY cum.source ORDER BY cum.source"""),
      doc = "per-source token-weighted median quality: exact lower weighted median by integer rule over the rounded-score grid — grid cardinality bounds the cumulative window regardless of corpus size"),

    // ---- split-conformal quality threshold (q184): calibrate a
    //      keep-threshold with 90% coverage on a held-out calibration
    //      split (doc_id % 5 = 0) — thr = the ⌈(n_cal+1)/10⌉-th
    //      smallest calibration score — then report realized per-source
    //      coverage on the evaluation split. Conformal calibration is
    //      the distribution-free way to turn a raw scorer into a
    //      guaranteed-coverage filter. The order statistic is selected
    //      by the SAME grid-cumsum pattern as q183 (never a global
    //      sort-limit over row-scale data), and every comparison after
    //      rounding is exact.
    QueryDef(
      "q184_conformal_coverage",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val scored = qualityScored(s, d)
          .withColumn("rscore", round(col("score"), 6))
          .localCheckpoint()
        val cal = scored.filter(col("doc_id") % 5 === 0)
        // ⌈(n_cal+1)/10⌉ via (n+10) div 10 — ceiling, not floor: the
        // standard split-conformal rank (r13 advice closed the off-by-
        // one where floor silently over-covered).
        val nc = cal.agg(count(lit(1)).as("n_cal"),
          expr("CAST((count(1) + 10) div 10 AS BIGINT)").as("r"))
        val wg = Window.orderBy("rscore").rowsBetween(Window.unboundedPreceding, 0)
        val thr = cal.groupBy("rscore").agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(wg))
          .crossJoin(broadcast(nc))
          .filter(col("cum") >= greatest(col("r"), lit(1L)))
          .agg(min(col("rscore")).as("thr"), max(col("n_cal")).as("n_cal"),
            max(col("r")).as("r"))
        scored.filter(col("doc_id") % 5 =!= 0)
          .crossJoin(broadcast(thr))
          .groupBy("source")
          .agg(max(col("thr")).as("thr"), max(col("n_cal")).as("n_cal"),
            count(lit(1)).as("n_eval"),
            sum(when(col("rscore") >= col("thr"), 1L).otherwise(0L)).as("n_kept"))
          .select(col("source"), col("n_cal"),
            round(col("thr"), 4).as("thr_r"), col("n_eval"), col("n_kept"),
            round(col("n_kept").cast("double") / col("n_eval"), 4).as("coverage_r"))
          .orderBy("source")
      },
      Some(s"""WITH $oracleScoreCtes,
        sc AS (SELECT doc_id, source, round(score, 6) AS rscore FROM qscore),
        cal AS (SELECT * FROM sc WHERE doc_id % 5 = 0),
        nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal,
            CAST((count(*) + 10) // 10 AS BIGINT) AS r FROM cal),
        cg AS (SELECT rscore, count(*) AS c FROM cal GROUP BY rscore),
        cc AS (SELECT rscore, sum(c) OVER (ORDER BY rscore
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM cg),
        thr AS (SELECT min(rscore) AS thr, max(n_cal) AS n_cal
          FROM cc CROSS JOIN nc WHERE cum >= greatest(r, 1))
        SELECT source, n_cal, round(thr, 4) AS thr_r,
          CAST(count(*) AS BIGINT) AS n_eval,
          CAST(sum(CASE WHEN rscore >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          round(CAST(sum(CASE WHEN rscore >= thr THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 4) AS coverage_r
        FROM sc CROSS JOIN thr WHERE doc_id % 5 <> 0
        GROUP BY source, n_cal, thr ORDER BY source"""),
      doc = "split-conformal quality calibration: grid-cumsum order statistic picks the 90%-coverage threshold on the calibration split, realized per-source coverage reported on the eval split — distribution-free filter calibration"),

    // ---- hard-example mining (q186): per source, the five
    //      LOWEST-quality documents by the shared q162 score — the
    //      review queue a labeling/filter-tuning loop consumes. Runs
    //      on the typed bounded-heap [[graft.functions.TopKAggregator]]
    //      (the custom Aggregator the engine ships): partial state is
    //      ≤ k rows per group per map task, so the shuffle carries
    //      five candidates per (source, task) instead of a full
    //      per-source sort — q71's pattern applied to the curation
    //      tier. Scores feed the heap on the rounded grid (q176 rule)
    //      negated, so "top" = hardest, ties to min doc_id — the
    //      exact row_number semantics the oracle proves. The output
    //      score IS that grid value: a second round to 4 places would
    //      round twice, and the engines break the resulting exact
    //      midpoints differently (Spark HALF_UP on the decimal repr,
    //      DuckDB on the scaled binary value: 0.17855 → 0.1786 vs
    //      0.1785).
    QueryDef(
      "q186_hard_examples",
      (s, d) => {
        import s.implicits._
        import graft.functions.TopKAggregator.{Scored, TopK}
        val ds = qualityScored(s, d)
          .select(col("source"), col("doc_id"), round(col("score"), 6).as("rscore"))
          .as[(String, Long, Double)]
        ds.groupByKey(_._1)
          .mapValues(t => Scored(t._2, -t._3))
          .agg(new TopK(5).toColumn.name("top"))
          .flatMap { case (src, buf) =>
            buf.items.zipWithIndex.map { case (sc, i) =>
              (src, i + 1, sc.id, -sc.score)
            }
          }.toDF("source", "rn", "doc_id", "score_r")
          .orderBy("source", "rn")
      },
      Some(s"""WITH $oracleScoreCtes,
        sc AS (SELECT source, doc_id, round(score, 6) AS rscore FROM qscore),
        ranked AS (SELECT source, doc_id, rscore,
            CAST(row_number() OVER (PARTITION BY source
              ORDER BY rscore ASC, doc_id ASC) AS INT) AS rn
          FROM sc)
        SELECT source, rn, doc_id, rscore AS score_r
        FROM ranked WHERE rn <= 5 ORDER BY source, rn"""),
      doc = "per-source hard-example mining: bottom-5 by quality score via the typed bounded-heap TopK Aggregator (partial state <= k per map task), rounded-grid scores with min-doc_id ties — the review-queue feed"),

    // ---- grouped regression (q187): per source, OLS of the q162
    //      quality score on ln(token count) — "is this source's
    //      quality a length artifact?" A positive slope says the
    //      scorer rewards length there; near-zero says quality is
    //      length-independent. Grouped least squares is the
    //      analytics staple the battery's q167/q182 corpus fits
    //      don't cover: HERE the regression is keyed, one fit per
    //      group, all five Σs accumulated as FIXED-POINT BIGINT sums
    //      on the 10^9 grid inside a single source-keyed agg (the
    //      q150/q126 pattern: floor(v·1e9) per row, BIGINT sum —
    //      O(1) buffers, map-side combinable, shuffle-order-exact;
    //      |x²| ≲ 200 for ln-scale regressors → int64-safe to ~4·10^7
    //      docs per source at this grid, drop to 10^6 beyond).
    //      Signed fits round to −0.0 in DuckDB
    //      only, so every output carries the +0.0 normalization.
    QueryDef(
      "q187_grouped_regression",
      (s, d) => {
        val xy = qualityScored(s, d)
          .join(Tables.documents(s, d)
            .select(col("doc_id"),
              size(split(trim(col("text")), "\\s+")).cast("long").as("nt")),
            Seq("doc_id"))
          .select(col("source"), col("doc_id"),
            log(col("nt").cast("double")).as("x"), col("score").as("y"))
        def fold(e: String) = sum(expr(s"CAST(floor(($e) * 1e9) AS BIGINT)"))
          .cast("double") / lit(1e9)
        xy.groupBy("source")
          .agg(count(lit(1)).as("n"),
            fold("x").as("sx"), fold("y").as("sy"),
            fold("x * y").as("sxy"),
            fold("x * x").as("sxx"), fold("y * y").as("syy"))
          .select(col("source"), col("n"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
            col("sx"), col("sy"), col("sxx"), col("syy"), col("sxy"))
          .select(col("source"), col("n").as("n_docs"),
            QueryDef.roundZ(col("slope"), 4).as("slope_r"),
            QueryDef.roundZ((col("sy") - col("slope") * col("sx")) / col("n"), 4)
              .as("intercept_r"),
            QueryDef.roundZ(((col("n") * col("sxy") - col("sx") * col("sy")) *
                (col("n") * col("sxy") - col("sx") * col("sy"))) /
              ((col("n") * col("sxx") - col("sx") * col("sx")) *
                (col("n") * col("syy") - col("sy") * col("sy"))), 4).as("r2_r"))
          .orderBy("source")
      },
      Some(s"""WITH $oracleScoreCtes,
        xy AS (SELECT qscore.source AS source, qscore.doc_id AS doc_id,
            ln(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)) AS x,
            score AS y
          FROM qscore JOIN documents ON qscore.doc_id = documents.doc_id),
        sums AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(floor((x) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS sx,
            CAST(sum(CAST(floor((y) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS sy,
            CAST(sum(CAST(floor((x * y) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS sxy,
            CAST(sum(CAST(floor((x * x) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS sxx,
            CAST(sum(CAST(floor((y * y) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 AS syy
          FROM xy GROUP BY source),
        fit AS (SELECT source, n, sx, sy, sxy, sxx, syy,
            (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope FROM sums)
        SELECT source, n AS n_docs,
          round(slope, 4) + 0.0 AS slope_r,
          round((sy - slope * sx) / n, 4) + 0.0 AS intercept_r,
          round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
            ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) + 0.0 AS r2_r
        FROM fit ORDER BY source"""),
      doc = "per-source OLS of quality score on ln(token count): keyed grouped regression, all five sums as fixed-point BIGINT accumulators inside one source-keyed agg (O(1) buffers, map-side combinable) — the length-artifact audit of the scorer"),

    // ---- length-inequality audit (q188): per-source Gini coefficient
    //      of token counts — the one-number concentration measure
    //      (G near 0: uniform lengths; near 1: a few giant docs hold
    //      the tokens), which decides whether token-budget sampling
    //      (q171/q181) needs doc-level weighting. ENTIRELY integer
    //      until the final division: ranks from a source-partitioned
    //      window on (n_tokens, doc_id), Σx and Σ(rank·x) are exact
    //      long sums (order-independent — no fold idiom needed),
    //      G = (2·S1 − (n+1)·S0)/(n·S0) evaluated once as a double.
    QueryDef(
      "q188_length_gini",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source").orderBy("nt", "doc_id")
        Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("nt"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"), sum(col("nt")).as("s0"),
            sum(col("rn") * col("nt")).as("s1"))
          .select(col("source"), col("n").as("n_docs"), col("s0").as("n_tokens"),
            round((lit(2L) * col("s1") - (col("n") + 1L) * col("s0")).cast("double") /
              (col("n") * col("s0")).cast("double"), 4).as("gini_r"))
          .orderBy("source")
      },
      Some("""WITH t AS (SELECT source, doc_id,
            CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nt
          FROM documents),
        r AS (SELECT source, nt,
            CAST(row_number() OVER (PARTITION BY source ORDER BY nt, doc_id) AS BIGINT) AS rn
          FROM t),
        g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(nt) AS BIGINT) AS s0, CAST(sum(rn * nt) AS BIGINT) AS s1
          FROM r GROUP BY source)
        SELECT source, n AS n_docs, s0 AS n_tokens,
          round(CAST(2 * s1 - (n + 1) * s0 AS DOUBLE) / CAST(n * s0 AS DOUBLE), 4) AS gini_r
        FROM g ORDER BY source"""),
      doc = "per-source Gini coefficient of token counts: integer rank/prefix arithmetic with a single final double division — the length-concentration audit that decides token-weighted sampling"),

    // ---- positional phrase search (q189): exact-phrase retrieval the
    //      way an inverted index does it — per-term POSITIONAL
    //      postings, then the classic adjacency intersection:
    //      postings("table") ⋈ postings("hash") on
    //      (doc_id, pos + 1 = pos). The join keys on (doc, position),
    //      so the plan is two pruned posting scans and one equi-join —
    //      never a scan-per-document regex pass. Per matching doc:
    //      match count and first occurrence.
    QueryDef(
      "q189_phrase_search",
      (s, d) => {
        val pos = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "term")))
        val t1 = pos.filter(col("term") === "table")
          .select(col("doc_id"), col("pos").as("p1"))
        val t2 = pos.filter(col("term") === "hash")
          .select(col("doc_id"), (col("pos") - 1).as("p1"))
        t1.join(t2, Seq("doc_id", "p1"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_matches"),
            min(col("p1")).cast("int").as("first_pos"))
          .orderBy("doc_id")
      },
      Some("""WITH pos AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, ts[i] AS term
          FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts
            FROM documents) t, unnest(range(1, len(ts) + 1)) AS r(i)),
        t1 AS (SELECT doc_id, pos AS p1 FROM pos WHERE term = 'table'),
        t2 AS (SELECT doc_id, pos - 1 AS p1 FROM pos WHERE term = 'hash')
        SELECT t1.doc_id, CAST(count(*) AS BIGINT) AS n_matches,
          CAST(min(t1.p1) AS INT) AS first_pos
        FROM t1 JOIN t2 ON t1.doc_id = t2.doc_id AND t1.p1 = t2.p1
        GROUP BY t1.doc_id ORDER BY t1.doc_id"""),
      doc = "exact-phrase retrieval via positional posting intersection: per-term postings equi-joined on (doc, adjacent position) — the inverted-index phrase plan, not a per-document regex scan"),

    // ---- token-yield funnel (q190): the per-source accounting of
    //      what actually survives into training — gross tokens, after
    //      exact dedup (first doc_id keeps per normalized fingerprint,
    //      the q35 canonical form), after the q162 quality bar on the
    //      dedup survivors — with the end-to-end yield ratio. q91
    //      counts DOCS through a global funnel; a mixture planner
    //      budgets TOKENS per source, which is this view. Stages
    //      compose the battery's shared definitions; the dedup winner
    //      is a fingerprint-keyed min (no self-join), and every stage
    //      is a flag on one scanned row set so the funnel is one
    //      aggregation wide.
    QueryDef(
      "q190_token_yield",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = qualityScored(s, d)
          .join(Tables.documents(s, d)
            .select(col("doc_id"),
              size(split(trim(col("text")), "\\s+")).cast("long").as("nt"),
              md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fp")),
            Seq("doc_id"))
        val keeper = Window.partitionBy("fp").orderBy("doc_id")
        base
          .withColumn("is_first", (row_number().over(keeper) === 1).cast("long"))
          .withColumn("q_ok", (col("score") >= 0.5).cast("long"))
          .groupBy("source")
          .agg(sum(col("nt")).as("t_gross"),
            sum(col("nt") * col("is_first")).as("t_dedup"),
            sum(col("nt") * col("is_first") * col("q_ok")).as("t_final"))
          .select(col("source"), col("t_gross"), col("t_dedup"), col("t_final"),
            round(col("t_final").cast("double") / col("t_gross"), 4).as("yield_r"))
          .orderBy("source")
      },
      Some(s"""WITH $oracleScoreCtes,
        base AS (SELECT qscore.source AS source, qscore.doc_id AS doc_id, score,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS nt,
            md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
          FROM qscore JOIN documents ON qscore.doc_id = documents.doc_id),
        flagged AS (SELECT source, nt,
            CASE WHEN row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
                 THEN 1 ELSE 0 END AS is_first,
            CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS q_ok
          FROM base)
        SELECT source, CAST(sum(nt) AS BIGINT) AS t_gross,
          CAST(sum(nt * is_first) AS BIGINT) AS t_dedup,
          CAST(sum(nt * is_first * q_ok) AS BIGINT) AS t_final,
          round(CAST(sum(nt * is_first * q_ok) AS DOUBLE) / sum(nt), 4) AS yield_r
        FROM flagged GROUP BY source ORDER BY source"""),
      doc = "per-source token-yield funnel: gross -> exact-dedup survivors (fingerprint-keyed first-keeper, no self-join) -> quality-kept, with the end-to-end yield ratio — the mixture planner's token accounting"),

    // ---- bootstrap confidence interval (q193): uncertainty on each
    //      source's mean quality score via the POISSON bootstrap —
    //      the data-parallel bootstrap (each row's replica multiplicity
    //      is Poisson(1), drawn independently, so no global resample
    //      pass is needed; the standard trick for bootstrap-at-scale).
    //      Everything is derandomized: multiplicities come from the
    //      battery's hash-uniform inverted through the exact Poisson(1)
    //      CDF thresholds, 20 replicas per row in one explode, replica
    //      means accumulate as FIXED-POINT BIGINT sums on the 10^9
    //      grid (floor(w·score·1e9); the q150/q126 pattern — O(1)
    //      buffers, map-side combinable, shuffle-order-exact), and
    //      the 90% CI is the 2nd/19th order statistic of the ROUNDED
    //      replica means (q176 rule).
    QueryDef(
      "q193_bootstrap_ci",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val reps = qualityScored(s, d)
          .withColumn("b", explode(expr("sequence(0, 19)")))
          .withColumn("hv", expr(
            "cast(conv(substring(md5(concat('bs', cast(b AS string), ':', cast(doc_id AS string))), 1, 8), 16, 10) as bigint)"))
          .withColumn("u", (col("hv") + 1L) / lit(4294967297.0))
          .withColumn("w",
            when(col("u") < 0.3678794412, 0L)
              .when(col("u") < 0.7357588823, 1L)
              .when(col("u") < 0.9196986029, 2L)
              .when(col("u") < 0.9810118431, 3L)
              .when(col("u") < 0.9963401532, 4L)
              .when(col("u") < 0.9994058152, 5L)
              .otherwise(6L))
        val means = reps.groupBy("source", "b")
          .agg(sum(col("w")).as("sw"),
            sum(expr("CAST(floor((CAST(w AS DOUBLE) * score) * 1e9) AS BIGINT)"))
              .as("swsq"))
          .filter(col("sw") > 0)
          .withColumn("rm",
            round(col("swsq").cast("double") / lit(1e9) / col("sw"), 6))
        val wr = Window.partitionBy("source").orderBy("rm", "b")
        val ci = means
          .withColumn("rn", row_number().over(wr))
          .groupBy("source")
          .agg(count(lit(1)).as("n_replicas"),
            max(when(col("rn") === 2, col("rm"))).as("lo"),
            max(when(col("rn") === 19, col("rm"))).as("hi"))
        val full = qualityScored(s, d).groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("CAST(floor(score * 1e9) AS BIGINT)")).as("ssq"))
          .withColumn("mean",
            col("ssq").cast("double") / lit(1e9) / col("n_docs"))
        full.join(ci, Seq("source"))
          .select(col("source"), col("n_docs"), col("n_replicas"),
            round(col("mean"), 4).as("mean_r"),
            round(col("lo"), 4).as("lo_r"), round(col("hi"), 4).as("hi_r"))
          .orderBy("source")
      },
      Some(s"""WITH $oracleScoreCtes,
        reps AS (SELECT source, doc_id, score, b,
            (CAST(('0x' || substr(md5('bs' || CAST(b AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) + 1)
              / 4294967297.0 AS u
          FROM qscore, unnest(range(20)) AS r(b)),
        wts AS (SELECT source, doc_id, score, b,
            CASE WHEN u < 0.3678794412 THEN 0
                 WHEN u < 0.7357588823 THEN 1
                 WHEN u < 0.9196986029 THEN 2
                 WHEN u < 0.9810118431 THEN 3
                 WHEN u < 0.9963401532 THEN 4
                 WHEN u < 0.9994058152 THEN 5
                 ELSE 6 END AS w
          FROM reps),
        means AS (SELECT source, b, round(
              CAST(sum(CAST(floor((CAST(w AS DOUBLE) * score) * 1e9) AS BIGINT)) AS DOUBLE)
                / 1e9 / sum(w), 6) AS rm
          FROM wts GROUP BY source, b HAVING sum(w) > 0),
        ranked AS (SELECT source, rm,
            row_number() OVER (PARTITION BY source ORDER BY rm, b) AS rn
          FROM means),
        ci AS (SELECT source, CAST(count(*) AS BIGINT) AS n_replicas,
            max(CASE WHEN rn = 2 THEN rm END) AS lo,
            max(CASE WHEN rn = 19 THEN rm END) AS hi
          FROM ranked GROUP BY source),
        fullm AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(CAST(floor(score * 1e9) AS BIGINT)) AS DOUBLE)
              / 1e9 / count(*) AS mean
          FROM qscore GROUP BY source)
        SELECT fullm.source, n_docs, n_replicas,
          round(mean, 4) AS mean_r, round(lo, 4) AS lo_r, round(hi, 4) AS hi_r
        FROM fullm JOIN ci ON fullm.source = ci.source
        ORDER BY fullm.source"""),
      doc = "Poisson-bootstrap 90% CI on each source's mean quality: hash-derandomized Poisson(1) multiplicities, 20 replicas in one explode, fixed-point BIGINT replica-mean sums (O(1) agg buffers), order-statistic CI on the rounded grid — bootstrap without a global resample pass"),

    // ---- calibration reliability table (q195): is the marker-vote
    //      labeler's CONFIDENCE honest? Confidence = winning marker
    //      share; the table bins documents by confidence decile and
    //      compares mean confidence to realized accuracy against the
    //      gold lang column — the reliability diagram / ECE input,
    //      the standard read before trusting a cheap labeler's scores
    //      as probabilities. One scan into a ≤10-row bin agg:
    //      accuracy and counts are integer-exact; mean confidence is
    //      a FIXED-POINT BIGINT sum on the 10^9 grid (floor(conf·1e9);
    //      q150/q126 pattern — O(1) buffers, order-exact); the labeler
    //      is the SAME shared [[withLangPred]] definition q33/q160 run.
    QueryDef(
      "q195_calibration_bins",
      (s, d) => {
        val scored = withLangPred(Tables.documents(s, d))
          .withColumn("tot",
            col("c_en") + col("c_es") + col("c_fr") + col("c_de"))
          .withColumn("conf",
            when(col("tot") > 0,
              greatest(col("c_en"), col("c_es"), col("c_fr"), col("c_de"))
                .cast("double") / col("tot"))
              .otherwise(0.0))
          .withColumn("bin",
            least(floor(col("conf") * 10).cast("int"), lit(9)))
          .withColumn("ok",
            (col("lang_pred") === col("lang")).cast("long"))
        scored.groupBy("bin")
          .agg(count(lit(1)).as("n"), sum(col("ok")).as("n_correct"),
            sum(expr("CAST(floor(conf * 1e9) AS BIGINT)")).as("sconfq"))
          .withColumn("mc", col("sconfq").cast("double") / lit(1e9) / col("n"))
          .select(col("bin"), col("n"), col("n_correct"),
            round(col("mc"), 4).as("mean_conf_r"),
            round(col("n_correct").cast("double") / col("n"), 4).as("acc_r"),
            round(abs(col("mc") -
              col("n_correct").cast("double") / col("n")), 4).as("gap_r"))
          .orderBy("bin")
      },
      Some(s"""WITH scored AS (SELECT doc_id, lang, $oracleLangPredCase AS lang_pred,
            c_en, c_es, c_fr, c_de, c_en + c_es + c_fr + c_de AS tot
          FROM (SELECT doc_id, lang, $oracleLangCounts
            FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS ts FROM documents) t0) t),
        conf AS (SELECT doc_id,
            CASE WHEN tot > 0 THEN CAST(greatest(c_en, c_es, c_fr, c_de) AS DOUBLE) / tot
                 ELSE 0.0 END AS conf,
            CASE WHEN lang_pred = lang THEN 1 ELSE 0 END AS ok
          FROM scored),
        binned AS (SELECT doc_id, conf, ok,
            least(CAST(floor(conf * 10) AS INT), 9) AS bin FROM conf)
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(ok) AS BIGINT) AS n_correct,
          round(CAST(sum(CAST(floor(conf * 1e9) AS BIGINT)) AS DOUBLE)
            / 1e9 / count(*), 4) AS mean_conf_r,
          round(CAST(sum(ok) AS DOUBLE) / count(*), 4) AS acc_r,
          round(abs(CAST(sum(CAST(floor(conf * 1e9) AS BIGINT)) AS DOUBLE)
            / 1e9 / count(*)
            - CAST(sum(ok) AS DOUBLE) / count(*)), 4) AS gap_r
        FROM binned GROUP BY bin ORDER BY bin"""),
      doc = "reliability table for the shared marker-vote labeler: confidence deciles vs realized accuracy against gold labels with per-bin calibration gap — the ECE input; integer-exact accuracy, fixed-point BIGINT confidence sums")
  )
}
