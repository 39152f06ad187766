package graft

import graft.operators.GlobalRank
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** The distributed ntile must agree with Spark's own ntile window —
  * for every n, k, and tie pattern the generator produces (including
  * n < k, all-equal keys with unique tiebreakers, and duplicates). */
object GlobalRankProps extends Properties("global-rank") {

  private lazy val spark = SparkSpecBase.session

  private val caseGen: Gen[(List[Int], Int)] = for {
    n <- Gen.chooseNum(1, 200)
    k <- Gen.chooseNum(1, 10)
    keys <- Gen.listOfN(n, Gen.chooseNum(0, 20)) // heavy ties
  } yield (keys, k)

  property("ntileByRange equals the ntile window under a total order") =
    forAll(caseGen) { case (keys, k) =>
      import spark.implicits._
      val df = keys.zipWithIndex.map { case (key, id) => (id.toLong, key) }
        .toDF("id", "key")
      val expected = df
        .withColumn("bucket",
          ntile(k).over(Window.orderBy(col("key").asc, col("id").asc)))
        .select("id", "bucket").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val got = GlobalRank
        .ntileByRange(df, k, Seq(col("key").asc, col("id").asc), "bucket")
        .select("id", "bucket").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      got == expected
    }

  property("a checkpointed input is detected and ranks identically") =
    forAll(caseGen) { case (keys, k) =>
      import spark.implicits._
      val df = keys.zipWithIndex.map { case (key, id) => (id.toLong, key) }
        .toDF("id", "key")
      val order = Seq(col("key").asc, col("id").asc)
      val pinned = df.localCheckpoint() // caller-managed pin
      try {
        val viaPinned = GlobalRank.ntileByRange(pinned, k, order, "bucket")
          .select("id", "bucket").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        val viaDefault = GlobalRank.ntileByRange(df, k, order, "bucket")
          .select("id", "bucket").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        // a local relation and an unpersisted RDD scan still get the
        // defensive pin
        val unpersisted = spark.createDataFrame(df.rdd, df.schema)
        viaPinned == viaDefault && GlobalRank.pinnedRdd(pinned).isDefined &&
          GlobalRank.pinnedRdd(df).isEmpty && GlobalRank.pinnedRdd(unpersisted).isEmpty
      } finally SparkEntry.releaseCaches(spark) // drop the per-iteration pin
    }

  property("bucket arithmetic matches SQL ntile sizing exactly") =
    forAll(Gen.chooseNum(1L, 100000L), Gen.chooseNum(1, 64)) { (n, k) =>
      val sizes = (1L to n).map(r => GlobalRank.ntileBucket(r, n, k))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val q = n / k
      val rem = n % k
      (1 to math.min(k.toLong, n).toInt).forall { b =>
        sizes(b) == (if (b <= rem) q + 1 else q)
      } && sizes.keySet.forall(b => b >= 1 && b <= k)
    }

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(12)
}
