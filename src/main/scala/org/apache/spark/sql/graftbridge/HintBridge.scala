package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, NO_BROADCAST_HASH, ResolvedHint}

/** Join-strategy hints Spark keeps internal. `NO_BROADCAST_HASH` is the
  * hint AQE itself puts on a side it must not broadcast; the public
  * `Dataset.hint` names cannot say "any strategy but broadcast". */
object HintBridge {
  /** `df` as a join side that is never the broadcast (build) side. */
  def noBroadcast(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      ResolvedHint(ds.logicalPlan, HintInfo(strategy = Some(NO_BROADCAST_HASH))))
  }
}
