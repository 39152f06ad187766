package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
import org.apache.spark.storage.StorageLevel

/** Exact global ntile WITHOUT an `Exchange SinglePartition`: the
  * classic distributed-rank shape. `ntile(k) OVER (ORDER BY …)` with
  * no PARTITION BY plans every row through one partition — fine for a
  * post-agg handful, a scale-killer over per-document rows (billions
  * at 100 TB). Instead:
  *
  *  1. range-partition by the window's total order (parallel sample +
  *     shuffle — the same work a distributed sort does), sort within
  *     partitions, and PIN the result with a localCheckpoint (range
  *     boundaries come from sampling; two jobs re-planning the
  *     exchange could disagree);
  *  2. one fused pass over the pinned partitions computes the
  *     per-partition row counts → prefix offsets; partition index then
  *     position IS the global 0-based rank — no further shuffle;
  *  3. apply ntile's exact bucket arithmetic to the 1-based rank.
  *
  * An input that is not already pinned (a checkpointed or persisted
  * RDD scan, see [[pinnedRdd]]) is pinned LAZILY
  * (`localCheckpoint(eager = false)`): repartitionByRange samples its
  * child before the shuffle, so an unpinned expensive upstream would
  * execute twice — but an eager pin would cost a dedicated materialize
  * job. Lazy, the sampling pass itself materializes the checkpoint.
  * Once the shuffled copy is pinned, its checkpoint truncates lineage
  * back to the input, so that copy is released immediately — the
  * scored frame is never double-stored. A caller's pin is the caller's
  * to release.
  *
  * The order must be TOTAL (include a unique tiebreaker) or ranks of
  * equal keys depend on partition placement.
  */
object GlobalRank {

  /** SQL ntile semantics: the first `n % k` buckets get
    * `n / k + 1` rows, the rest `n / k` — for 1-based rank `r`. */
  private[graft] def ntileBucket(r: Long, n: Long, k: Int): Int = {
    val q = n / k
    val rem = n % k
    val big = rem * (q + 1)
    if (r <= big) ((r + q) / (q + 1)).toInt
    else (rem + (r - big + q - 1) / q).toInt
  }

  /** The stored RDD `df` scans, when its plan is a scan of a
    * checkpointed or persisted RDD; a `createDataFrame` scan of an
    * unpersisted RDD is not pinned. */
  private[graft] def pinnedRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD if lr.rdd.getStorageLevel != StorageLevel.NONE => Some(lr.rdd)
      case _ => None
    }

  /** The shared core: range-partition + sort + pin, compute partition
    * prefix offsets in one fused pass, then map each row with its
    * 1-based global rank and the total count. */
  private def withRanks(df: DataFrame, order: Seq[Column])(
      emit: (Row, Long, Long) => Row): (RDD[Row], StructType) = {
    val inputPinned = pinnedRdd(df).isDefined
    val input = if (inputPinned) df else df.localCheckpoint(eager = false)
    // snap pinned LAZILY too (r22, the PrefixScan/CC one-job trick):
    // the counts collect below is snap's first action and its only
    // reader in that job, so the collect stores the sorted blocks —
    // one fewer materialization job per rank/ntile call. The final
    // mapPartitions pass reads the SAME stored blocks, so partition
    // boundaries cannot move between the two passes.
    val snap = input.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .localCheckpoint(eager = false)
    val sortedRdd = snap.rdd
    // ONE pass for the offset arithmetic — replaces both the separate
    // count() and zipWithIndex's internal per-partition size job
    val counts = sortedRdd
      .mapPartitionsWithIndex { (i, it) =>
        var c = 0L
        while (it.hasNext) { it.next(); c += 1 }
        Iterator.single(i -> c)
      }
      .collect().sortBy(_._1).map(_._2)
    // snap's first action has stored the sorted blocks and truncated
    // the lineage — only now can the input copy go (the
    // ConnectedComponents generation pattern; unpersisting before that
    // action would discard the pin before the exchange ever ran)
    if (!inputPinned) pinnedRdd(input).foreach(_.unpersist(blocking = false))
    val offsets = counts.scanLeft(0L)(_ + _)
    val n = offsets.last
    val rdd = sortedRdd.mapPartitionsWithIndex { (i, it) =>
      var idx = offsets(i) // 0-based global rank of the previous row
      it.map { row =>
        idx += 1
        emit(row, idx, n)
      }
    }
    (rdd, snap.schema)
  }

  /** Appends an ntile(k)-over-total-`order` column named `out`. */
  def ntileByRange(df: DataFrame, k: Int, order: Seq[Column], out: String): DataFrame = {
    require(k >= 1, "k must be positive")
    val (rdd, schema) = withRanks(df, order) { (row, idx, n) =>
      Row.fromSeq(row.toSeq :+ ntileBucket(idx, n, k))
    }
    df.sparkSession.createDataFrame(rdd,
      schema.add(out, IntegerType, nullable = false))
  }

  /** Appends the EXACT 1-based global rank over total `order` as a
    * LongType column `out` — `row_number() OVER (ORDER BY …)` without
    * the single-partition window. The order must be total (unique
    * tiebreaker) for deterministic ranks. */
  def withRowIndex(df: DataFrame, order: Seq[Column], out: String): DataFrame = {
    val (rdd, schema) = withRanks(df, order) { (row, idx, _) =>
      Row.fromSeq(row.toSeq :+ idx)
    }
    df.sparkSession.createDataFrame(rdd,
      schema.add(out, LongType, nullable = false))
  }
}
