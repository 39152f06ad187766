package graft

import org.apache.spark.sql.functions._

/** Synthesizes a LARGER scale point from an existing testdata dir by
  * deterministic replication — the sf1 (10×-sf0.1) corpus the
  * cross-scale exponent table needs beyond the driver-shipped SFs.
  * Only `documents` and `embeddings` are scaled (the LLM-pipeline hot
  * families read nothing else; the relational tables stay at their
  * driver-generated scales).
  *
  * Replication must not fabricate structure the workload would then
  * "discover":
  *  - documents: replica k suffixes every token with the replica digit
  *    (`tok` → `tokK`), so token counts, doc lengths, and within-replica
  *    shingle structure are preserved exactly while cross-replica
  *    shingle/minhash similarity drops to zero — a naive copy would
  *    hand the dedup family K-member exact-signature crowds (m² band
  *    blowup) that the real corpus distribution does not have, and the
  *    measured exponents would price that artifact, not the plan.
  *    Vocabulary grows ×K (distinct-token statistics stay
  *    Heaps-plausible rather than saturating).
  *  - embeddings: replica k rotates each vector's dimensions by
  *    7·k mod d. Within-replica geometry (all dot products, norms,
  *    neighborhoods) is EXACTLY preserved — every replica contributes
  *    the original's ANN workload — while cross-replica cosines fall
  *    to the random-pair level, so near-dup pair counts scale ×K,
  *    never ×K².
  *
  * Ids offset by k·(source cardinality), keeping the whole id space
  * under the variant-corpus offset (Ids.VariantOffset, 10^12) the dedup family reserves.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <outDir> <replicas>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, out, kStr) = args.take(3)
    val k = kStr.toInt
    val spark = GraftSession.local(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.count()
    val docReps = (0 until k).map { r =>
      val text =
        if (r == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1" + r.toString)
      docs.select((col("doc_id") + lit(r * nDocs)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }.reduce(_ unionByName _)
    docReps.repartition(8).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    val embs = spark.read.parquet(s"$src/embeddings.parquet")
    val nVecs = embs.count()
    val d = embs.selectExpr("size(embedding) AS d").head().getInt(0)
    val embReps = (0 until k).map { r =>
      val rot = (7 * r) % d
      val emb =
        if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, d - rot),
          slice(col("embedding"), 1, rot))
      embs.select((col("vec_id") + lit(r * nVecs)).as("vec_id"),
        emb.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
    embReps.repartition(8).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    println(s"""{"scaled":"$out","replicas":$k,"documents":${nDocs * k},"embeddings":${nVecs * k}}""")
    spark.stop()
  }
}
