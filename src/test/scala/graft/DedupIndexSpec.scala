package graft

import graft.operators.{DedupIndex, Ids}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Restart contract of the persisted LSH corpus index: an index built
  * once serves incoming batches in a BRAND-NEW session with zero
  * corpus re-tokenization — the dedup plan reads the persisted index
  * log, never the corpus source. (The EtlCliSpec resumability
  * pattern applied to the dedup family.)
  */
class DedupIndexSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  private def originals: DataFrame =
    Tables.documents(spark, sf).select(col("doc_id"), trim(col("text")).as("text"))

  test("batch dedups against the LOADED index in a fresh session, without touching corpus text") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-index").toString
    val batchDir = java.nio.file.Files.createTempDirectory("graft-dedup-batch").toString
    try {
      DedupIndex.build(spark, originals, s"$dir/index")

      // the incoming batch arrives as its OWN parquet drop (a crawl
      // delivery), not a derivation of the corpus table — so any scan
      // of the corpus source in the dedup plan is unambiguous
      Tables.documents(spark, sf)
        .select((col("doc_id") + Ids.VariantOffset).as("doc_id"),
          trim(expr("substring(text, instr(text, ' ') + 1)")).as("text"))
        .write.mode("overwrite").parquet(s"$batchDir/batch.parquet")

      // brand-new "process": a fresh session shares no temp views or
      // cached plans with the builder; everything corpus-side must
      // come off the persisted ledgers
      val s2 = spark.newSession()
      val batch = s2.read.parquet(s"$batchDir/batch.parquet")
      val result = DedupIndex.dedupBatch(s2, batch, s"$dir/index")

      // zero corpus re-tokenization, pinned at plan level: the
      // executed plan scans the index ledgers and the batch drop only
      val plan = result.queryExecution.executedPlan.toString
      assert(!plan.contains("documents.parquet"),
        "dedup plan re-read the corpus source:\n" + plan.take(2000))
      assert(plan.contains("index/index"),
        "dedup plan does not read the persisted ledger:\n" + plan.take(2000))

      // every eligible variant resolves to its origin doc: the batch
      // signatures computed NOW must collide band-for-band with corpus
      // signatures computed BEFORE the restart — any drift in the hash
      // family, lane carving, or banding breaks this exactness
      val rows = result.collect()
      val eligible = batch.filter(size(split(trim(col("text")), "\\s+")) >= 3).count()
      assert(rows.length == eligible, s"${rows.length} matches for $eligible eligible docs")
      assert(rows.forall(r => r.getLong(1) == r.getLong(0) - Ids.VariantOffset),
        rows.filter(r => r.getLong(1) != r.getLong(0) - Ids.VariantOffset).take(3).mkString(", "))
      assert(rows.forall(_.getDouble(2) >= 0.8))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(batchDir))
    }
  }

  test("ingest: flags corpus twins AND within-batch twins, folds survivors " +
      "so the next delivery collides with them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-ingest").toString
    try {
      val p = s"$dir/index"
      val docs = originals.orderBy("doc_id").limit(40).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      import spark.implicits._
      def variantOf(id: Long) = {
        val (_, text) = docs.find(_._1 == id).get
        (id + Ids.VariantOffset, text.substring(text.indexOf(' ') + 1).trim)
      }
      DedupIndex.build(spark, docs.take(30).toSeq.toDF("doc_id", "text"), p)
      val sizeBefore = DedupIndex.load(spark, p).rows.count()

      // delivery 1: 10 genuinely-new docs + a twin of a CORPUS doc + a
      // twin of a BATCH-MATE (doc 35 arrives alongside its variant)
      val batch1 = (docs.slice(30, 40).toSeq :+ variantOf(3L) :+ variantOf(35L))
        .toDF("doc_id", "text")
      val flags1 = DedupIndex.ingest(spark, batch1, p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(flags1(Ids.VariantOffset + 3L) == 3L, s"corpus twin: $flags1") // vs the index
      assert(flags1(Ids.VariantOffset + 35L) == 35L, s"within-batch twin: $flags1") // vs a batch-mate
      val sizeAfter = DedupIndex.load(spark, p).rows.count()
      assert(sizeAfter == sizeBefore + 12 - flags1.size) // survivors only

      // delivery 2: a twin of a doc FOLDED by delivery 1 — only the
      // fold can catch this (doc 36 was never in the built corpus)
      val flags2 = DedupIndex.ingest(spark,
        Seq(variantOf(36L)).toDF("doc_id", "text"), p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(flags2 == Map(Ids.VariantOffset + 36L -> 36L), s"folded-survivor twin: $flags2")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a redelivered ingest is idempotent: same flags, ledger unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-redeliver").toString
    try {
      val p = s"$dir/index"
      import spark.implicits._
      val docs = originals.orderBy("doc_id").limit(25).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      DedupIndex.build(spark, docs.take(15).toSeq.toDF("doc_id", "text"), p)
      val delivery = docs.drop(15).toSeq.toDF("doc_id", "text")

      def ledgerRows() = DedupIndex.load(spark, p).rows
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val flagsA = DedupIndex.ingest(spark, delivery, p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ledgerA = ledgerRows()
      // crash-after-fold retry: the upstream redelivers the same batch —
      // the folded docs must NOT flag as duplicates of themselves, and
      // the fold must not append their rows twice
      val flagsB = DedupIndex.ingest(spark, delivery, p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(flagsB == flagsA)
      assert(ledgerRows() == ledgerA)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("ingest stays within its Spark job budget") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-jobs").toString
    try {
      val p = s"$dir/index"
      import spark.implicits._
      val docs = originals.orderBy("doc_id").limit(40).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      DedupIndex.build(spark, docs.take(30).toSeq.toDF("doc_id", "text"), p)
      val (id, text) = docs(3)
      val delivery = (docs.slice(30, 40).toSeq :+
        (id + Ids.VariantOffset, text.substring(text.indexOf(' ') + 1).trim))
        .toDF("doc_id", "text")
      // 16 jobs, the same on every run; a change may lower the budget,
      // never raise it
      val jobs = jobsIn(DedupIndex.ingest(spark, delivery, p))
      assert(jobs <= 16, s"ingest ran $jobs Spark jobs")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("build is an atomic refresh: a new corpus generation replaces the old in place") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-refresh").toString
    try {
      val p = s"$dir/index"
      DedupIndex.build(spark, originals.limit(20), p)
      val before = DedupIndex.load(spark, p).rows.count()
      DedupIndex.build(spark, originals, p) // self-overwrite through the generation swap
      val after = DedupIndex.load(spark, p).rows.count()
      assert(before <= 20 && after > before)
      // no stray generations left behind
      val strays = new java.io.File(p).listFiles()
        .map(_.getName).filter(n => n.contains(".tmp-") || n.contains(".old-"))
      assert(strays.isEmpty, strays.mkString(", "))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
