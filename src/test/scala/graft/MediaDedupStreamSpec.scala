package graft

import graft.operators.{DedupQueries, Ids, MultimodalQueries}
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

  test("an over-cap identical media crowd collapses to one survivor with linear flags") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-media-crowd").toString
    try {
      // one micro-batch of identical frames (a run of blank frames, say):
      // identical fingerprints collapse to their min id on the survivor
      // side, so each other member flags against it once per block —
      // 4·(n−1) rows, not the 4·n(n−1)/2 of a full self-join
      val n = DedupQueries.DefaultBandCap + 1
      val frame = MultimodalQueries.bmpBytes(12, 12, 7L)
      val crowd = (100L until 100L + n).map(i => (i, frame)).toDF("doc_id", "payload")
      val f0 = MediaDedupStream.processBatch(spark, crowd, dir, batchId = 0L).collect()
      assert(f0.length <= 4 * (n - 1), s"${f0.length} flag rows for a crowd of $n")
      assert(f0.map(_.getLong(0)).toSet == (101L until 100L + n).toSet,
        "every crowd member but the min id must be flagged")
      assert(f0.forall(_.getLong(2) == 100L), "every flag must point at the min id")
      // exactly one survivor folds…
      assert(MediaDedupStream.loadLedger(spark, dir).select("doc_id")
        .collect().map(_.getLong(0)).toSeq == Seq(100L))
      // …and a later batch's identical frame flags against it
      val f1 = MediaDedupStream.processBatch(spark,
        Seq((900000L, frame)).toDF("doc_id", "payload"), dir, batchId = 1L).collect()
      assert(f1.nonEmpty && f1.forall(r => r.getLong(0) == 900000L && r.getLong(2) == 100L),
        f1.mkString(", "))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      SparkEntry.releaseCaches(spark)
    }
  }

  test("a near twin whose only equal block is a crowded flat one is flagged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-media-flat").toString
    try {
      // over DefaultBandCap ledger images share a flat top quarter
      // (block 0 = 0: no luma rise) and differ elsewhere; a probe at
      // Hamming 3 from a non-minimum member, one bit off in each other
      // block, shares only the crowded key with it — the pigeonhole
      // guarantees that one block, so the probe must keep it whole
      val n = DedupQueries.DefaultBandCap + 1
      val rnd = new scala.util.Random(11L)
      val members = Iterator.continually(Seq(0) ++ Seq.fill(3)(rnd.nextInt(1 << 16)))
        .scanLeft(Vector.empty[Seq[Int]]) { (acc, m) =>
          if (acc.exists(hamming(_, m) <= 3)) acc else acc :+ m
        }
        .dropWhile(_.size < n).next()
      val crowd = members.zipWithIndex.map { case (m, i) => (1000L + i, dhashBmp(m)) }
      assert(crowd.forall { case (i, p) =>
        MultimodalQueries.bmpDHashBlocks(p).toSeq == members((i - 1000L).toInt) })
      val f0 = MediaDedupStream.processBatch(spark, crowd.toDF("doc_id", "payload"), dir,
        batchId = 0L).collect()
      assert(f0.isEmpty, f0.mkString(", "))
      assert(MediaDedupStream.loadLedger(spark, dir).count() == n)
      val target = members(40)
      val probe = Seq(0) ++ target.tail.zipWithIndex.map { case (b, k) => b ^ (1 << (3 * k + 1)) }
      assert(hamming(probe, target) == 3)
      val f1 = MediaDedupStream.processBatch(spark,
        Seq((900000L, dhashBmp(probe))).toDF("doc_id", "payload"), dir, batchId = 1L)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).toSet
      assert(f1.contains((900000L, 1040L, 3)), f1.mkString(", "))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      SparkEntry.releaseCaches(spark)
    }
  }

  private def hamming(a: Seq[Int], b: Seq[Int]): Int =
    a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum

  /** A 9×8 grey BMP whose dHash is exactly `blocks`: bit j·8+i is set
    * iff pixel i+1 of row j is brighter than pixel i. */
  private def dhashBmp(blocks: Seq[Int]): Array[Byte] = {
    val p = MultimodalQueries.bmpBytes(9, 8, 0L) // rows of 28 bytes from offset 54
    for (j <- 0 until 8) {
      var v = 100
      for (i <- 0 until 9) {
        val k = j * 8 + i - 1
        if (i > 0 && (blocks(k / 16) >> (k % 16) & 1) == 1) v += 1
        (0 until 3).foreach(c => p(54 + j * 28 + 3 * i + c) = v.toByte)
      }
    }
    p
  }

  test("a media micro-batch against a non-empty ledger stays within its Spark job budget") {
    val dir = java.nio.file.Files.createTempDirectory("graft-media-jobs").toString
    try {
      val originals = media.filter(col("doc_id") < Ids.VariantOffset)
      val twins = media.filter(col("doc_id") >= Ids.VariantOffset).localCheckpoint()
      MediaDedupStream.processBatch(spark, originals, dir, batchId = 0L).count()
      // 8 jobs, the same on every run; a change may lower the budget,
      // never raise it
      val jobs = jobsIn(MediaDedupStream.processBatch(spark, twins, dir, batchId = 1L))
      assert(jobs <= 8, s"processBatch ran $jobs Spark jobs")
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
