package graft

import graft.operators.{Ids, MultimodalQueries}
import graft.streaming.MediaDedupStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Exactly-once pins for the streaming media-dedup ledger: a later
  * micro-batch's twin must collide with what an earlier batch
  * admitted, replay must be byte-identical, and the foreachBatch
  * wiring must maintain the ledger across micro-batches. */
class MediaDedupStreamSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  private def media: DataFrame = {
    val docs = Tables.documents(spark, sf)
    MultimodalQueries.imageCorpusWithTwins(docs)
      .unionByName(MultimodalQueries.audioCorpusWithTwins(docs))
  }

  test("a media twin in a later micro-batch is flagged against an earlier survivor") {
    val dir = java.nio.file.Files.createTempDirectory("graft-media-stream").toString
    try {
      val originals = media.filter(col("doc_id") < Ids.VariantOffset)
      val twins = media.filter(col("doc_id") >= Ids.VariantOffset).localCheckpoint()
      val droppedInB0 = MediaDedupStream.processBatch(spark, originals, dir, batchId = 0L)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val flags1 = MediaDedupStream.processBatch(spark, twins, dir, batchId = 1L)
        .collect()
      val flagged = flags1.map(r => r.getLong(0) -> r.getInt(3))
        .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).min }
      twins.select("doc_id").collect().map(_.getLong(0)).foreach { twin =>
        val orig = twin - Ids.VariantOffset
        if (!droppedInB0.contains(orig)) {
          // the original survived batch 0: its twin MUST collide, at
          // the planted bound
          assert(flagged.contains(twin), s"twin $twin not flagged against the ledger")
          if (orig % 6 == orig % 3) assert(flagged(twin) == 0,
            s"exact twin $twin at hamming ${flagged(twin)}")
          else assert(flagged(twin) <= 2,
            s"perturbed twin $twin at hamming ${flagged(twin)}")
        } else if (orig % 6 == orig % 3) {
          // original deduped against a hash-close survivor: an EXACT
          // twin still collides with that survivor (identical hash ⟹
          // identical distance); a perturbed twin may legitimately
          // fall outside the gate — the standard greedy-dedup
          // transitivity loss, shared with the text family's q85
          assert(flagged.contains(twin),
            s"exact twin $twin of deduped original not flagged")
        }
      }
    } finally SparkEntry.releaseCaches(spark)
  }

  test("replaying a micro-batch re-emits identical flags and leaves the ledger identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-media-replay").toString
    try {
      val originals = media.filter(col("doc_id") < Ids.VariantOffset)
      val twins = media.filter(col("doc_id") >= Ids.VariantOffset).localCheckpoint()
      MediaDedupStream.processBatch(spark, originals, dir, batchId = 0L).count()
      def snapshot(): (Set[(Long, String, Long, Int)], Set[(Long, String, Int, Int, Int, Int, Long)]) = {
        val flags = MediaDedupStream.processBatch(spark, twins, dir, batchId = 1L)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
        val ledger = MediaDedupStream.loadLedger(spark, dir)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
            r.getInt(3), r.getInt(4), r.getInt(5), r.getLong(6))).toSet
        (flags, ledger)
      }
      val (flagsA, ledgerA) = snapshot()
      val (flagsB, ledgerB) = snapshot() // the replay
      assert(flagsA == flagsB, "replayed flags differ")
      assert(ledgerA == ledgerB, "replayed ledger differs")
      // and the stamp guard really partitioned the generations:
      // batch-1 rows are exactly the UNFLAGGED twins (possibly none —
      // the planted corpus flags them all), nothing stamps >= 2
      val twinIds = twins.select("doc_id").collect().map(_.getLong(0)).toSet
      val unflagged = twinIds -- flagsA.map(_._1)
      assert(ledgerA.filter(_._7 == 1L).map(_._1) == unflagged,
        "batch-1 ledger rows are not exactly the unflagged twins")
      assert(!ledgerA.exists(_._7 >= 2L))
    } finally SparkEntry.releaseCaches(spark)
  }

  test("a fresh-checkpoint restart against an accumulated media ledger fails loud, not wipes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-media-guard").toString
    try {
      val originals = media.filter(col("doc_id") < Ids.VariantOffset).localCheckpoint()
      // two batches, so the ledger holds folds up to batch 1
      MediaDedupStream.processBatch(spark, originals.filter(col("doc_id") % 2 === 0),
        dir, batchId = 0L).count()
      MediaDedupStream.processBatch(spark, originals.filter(col("doc_id") % 2 === 1),
        dir, batchId = 1L).count()
      val before = MediaDedupStream.loadLedger(spark, dir)
        .collect().map(_.toString).toSet
      assert(before.nonEmpty)
      // checkpoint cleared → batch ids restart at 0: a fold of batch 0
      // would drop every accumulated row stamped 0 or later
      val e = intercept[IllegalArgumentException] {
        MediaDedupStream.processBatch(spark, originals, dir, batchId = 0L).count()
      }
      assert(e.getMessage.contains("fresh"), e.getMessage)
      assert(MediaDedupStream.loadLedger(spark, dir).collect().map(_.toString).toSet == before)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      SparkEntry.releaseCaches(spark)
    }
  }

  test("streaming wiring: foreachBatch maintains the ledger across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-media-wire").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-media-ckpt").toString
    try {
      val mem = MemoryStream[(Long, Array[Byte])]
      val stream = mem.toDF().toDF("doc_id", "payload")
      val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      val q = MediaDedupStream.startWithLedgerMaintenance(stream, dir, ckpt) {
        (flags, _) =>
          sink ++= flags.collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
      }
      try {
        val originals = media.filter(col("doc_id") < Ids.VariantOffset)
          .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload")))
        val twins = media.filter(col("doc_id") >= Ids.VariantOffset)
          .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload")))
        mem.addData(originals.toSeq)
        q.processAllAvailable()
        val afterB0 = sink.size
        mem.addData(twins.toSeq)
        q.processAllAvailable()
        // every twin flagged in the second micro-batch
        val flaggedTwins = sink.drop(afterB0).map(_._1).toSet
        val missing = twins.map(_._1).filterNot(flaggedTwins.contains)
        assert(missing.isEmpty, s"twins not flagged across micro-batches: ${missing.take(5).toSeq}")
      } finally q.stop()
    } finally SparkEntry.releaseCaches(spark)
  }
}
