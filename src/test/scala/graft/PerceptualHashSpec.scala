package graft

import graft.operators.{Ids, MediaDedupIndex, MultimodalQueries}
import org.apache.spark.sql.functions._

/** Ground-truth pins for q127's perceptual-hash dedup — the planted
  * image corpus gives every original a KNOWN twin: an exact byte copy
  * (doc_id % 6 == 0 → identical hash, hamming 0) or a one-pixel
  * perturbation (≤ 2 dHash bits can flip: only grid comparisons
  * crossing the perturbed cell change). The oracle cross-checks
  * values; this pins recall against the corpus's built-in truth and
  * the pigeonhole candidate join's completeness against a direct
  * all-pairs recomputation. */
class PerceptualHashSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  test("q127 finds every planted twin; exact copies at hamming 0, " +
      "perturbed at hamming <= 2") {
    try {
      val pairs = SparkEntry.queries("q127_image_phash_dedup")(spark, sf)
        .localCheckpoint()
      val imageIds = Tables.documents(spark, sf)
        .filter(col("doc_id") % 3 === 0).select("doc_id")
        .collect().map(_.getLong(0))
      val found = pairs.filter(col("doc_b") === col("doc_a") + Ids.VariantOffset)
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      val missing = imageIds.filterNot(found.contains)
      assert(missing.isEmpty, s"planted twins missing from q127: ${missing.take(5).toSeq}")
      imageIds.foreach { id =>
        if (id % 6 == 0) assert(found(id) == 0, s"exact copy $id at hamming ${found(id)}")
        else assert(found(id) <= 2, s"perturbed twin $id at hamming ${found(id)}")
      }
    } finally SparkEntry.releaseCaches(spark)
  }

  test("pigeonhole candidates are complete: the block join equals " +
      "all-pairs hamming <= 3 on the same hashes") {
    try {
      val hashed = MediaDedupIndex.fingerprints(spark,
        MultimodalQueries.imageCorpusWithTwins(Tables.documents(spark, sf)))
        .localCheckpoint()
      val a = hashed.select(col("doc_id").as("doc_a"), col("h0").as("a0"),
        col("h1").as("a1"), col("h2").as("a2"), col("h3").as("a3"))
      val b = hashed.select(col("doc_id").as("doc_b"), col("h0").as("b0"),
        col("h1").as("b1"), col("h2").as("b2"), col("h3").as("b3"))
      val allPairs = a.join(b, col("doc_a") < col("doc_b"))
        .withColumn("hamming", expr(
          "CAST(bit_count(a0 ^ b0) + bit_count(a1 ^ b1) + bit_count(a2 ^ b2) + bit_count(a3 ^ b3) AS INT)"))
        .filter(col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
      val fromQuery = SparkEntry.queries("q127_image_phash_dedup")(spark, sf)
      assert(fromQuery.exceptAll(allPairs).count() == 0)
      assert(allPairs.exceptAll(fromQuery).count() == 0)
    } finally SparkEntry.releaseCaches(spark)
  }

  test("q131 finds every planted audio twin; exact copies at hamming 0, " +
      "perturbed at hamming <= 1") {
    try {
      val pairs = SparkEntry.queries("q131_audio_fingerprint_dedup")(spark, sf)
        .localCheckpoint()
      val audioIds = Tables.documents(spark, sf)
        .filter(col("doc_id") % 3 === 1).select("doc_id")
        .collect().map(_.getLong(0))
      val found = pairs.filter(col("doc_b") === col("doc_a") + Ids.VariantOffset)
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      val missing = audioIds.filterNot(found.contains)
      assert(missing.isEmpty, s"planted twins missing from q131: ${missing.take(5).toSeq}")
      audioIds.foreach { id =>
        if (id % 6 == 1) assert(found(id) == 0, s"exact copy $id at hamming ${found(id)}")
        // the perturbation touches window 0's energy only: at most the
        // E1>E0 comparison (bit 0) flips
        else assert(found(id) <= 1, s"perturbed twin $id at hamming ${found(id)}")
      }
    } finally SparkEntry.releaseCaches(spark)
  }

  test("q133 reports every planted video twin with at least frames-1 " +
      "matched frame hashes") {
    try {
      val rows = SparkEntry.queries("q133_video_framehash_dedup")(spark, sf)
        .localCheckpoint()
      val videoIds = Tables.documents(spark, sf)
        .filter(col("doc_id") % 3 === 2).select("doc_id")
        .collect().map(_.getLong(0))
      val twins = rows.filter(col("doc_b") === col("doc_a") + Ids.VariantOffset)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      videoIds.foreach { id =>
        val fr = 1 + id % 5
        // a perturbed SINGLE-frame twin may legitimately share zero
        // frame hashes — then the pair is (correctly) absent from the
        // inner join; every other planted twin must be found
        if (id % 6 == 2 || fr > 1) {
          assert(twins.contains(id), s"planted twin missing from q133: $id")
          val (matched, fa, fb) = twins(id)
          assert(fa == fr && fb == fr, s"frame counts off for $id: $fa/$fb vs $fr")
          // only frame 0's hash can differ (the perturbation is
          // confined to its luma plane): per-index identical frames
          // all match
          if (id % 6 == 2) assert(matched >= fa, s"exact twin $id matched $matched < $fa")
          else assert(matched >= fa - 1, s"perturbed twin $id matched $matched < ${fa - 1}")
        }
      }
    } finally SparkEntry.releaseCaches(spark)
  }

  test("q136 co-clusters every exact media twin with its original and " +
      "never mixes modalities inside a cluster") {
    try {
      val rows = SparkEntry.queries("q136_media_dedup_clusters")(spark, sf)
        .collect()
      val cluster = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
      val ids = Tables.documents(spark, sf).select("doc_id")
        .collect().map(_.getLong(0))
      // exact-copy twins exist where id % 6 == id % 3 (the per-modality
      // exact residues 0/1/2); identical bytes ⟹ identical hashes ⟹
      // the pair edge always fires in its modality's miner
      val exactIds = ids.filter(id => id % 6 == id % 3)
      exactIds.foreach { id =>
        assert(cluster.contains(id) && cluster.contains(id + Ids.VariantOffset),
          s"exact twin pair $id missing from the ledger")
        assert(cluster(id) == cluster(id + Ids.VariantOffset),
          s"exact twin $id not co-clustered")
      }
      // intra-modal edges over disjoint id spaces: a cluster can never
      // span modalities — structural sanity of the union + CC glue
      rows.groupBy(_.getLong(2)).foreach { case (c, members) =>
        assert(members.map(_.getString(1)).distinct.length == 1,
          s"cluster $c mixes modalities")
        assert(members.length >= 2, s"singleton cluster $c in a pair-edge CC")
      }
    } finally SparkEntry.releaseCaches(spark)
  }
}
