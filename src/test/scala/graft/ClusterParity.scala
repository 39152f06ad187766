package graft

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession

/** Multi-JVM shuffle parity: runs the shuffle-heavy dedup family on
  * `local[4]` (threads in one JVM, a shared heap, no serialization
  * boundary) and then on `master`, a `local-cluster[...]` of forked
  * executor JVMs (real netty shuffle, real task and broadcast
  * serialization), and compares an order-canonical MD5 of each full
  * result. Equal hashes show that no plan carries thread-shared state
  * across the executor-process boundary. Exits 1 on any mismatch.
  *
  * A local-cluster context cannot share a JVM with another
  * SparkContext, so ToolMainsSpec forks this main. The executors start
  * with the launching JVM's classpath (`spark.testing`, as Spark's own
  * suites do), so no packaged jar is needed; Spark's launcher finds the
  * dist through `SPARK_HOME`, and `SPARK_SCALA_VERSION=2.13` spares it
  * the source-build directory check `spark.testing` otherwise makes.
  *
  * Usage: graft.ClusterParity <sfDir> <master>, the master e.g.
  * `local-cluster[2,2,1536]` (2 workers of 2 cores and 1536 MB each).
  */
object ClusterParity {

  /** The families whose scale story rests on real shuffle behaviour. */
  val Targets: Seq[String] = Seq(
    "q35_dedup_exact",
    "q36_dedup_minhash_lsh",
    "q37_dedup_jaccard_verify",
    "q77_dedup_clusters",
    "q102_incremental_dedup",
    "q113_simhash_hamming_pairs",
    "q122_shared_span_pairs",
    "q130_ann_ivf_pq",
    "q136_media_dedup_clusters",
    // the band cap in its tripping regime (cap 4 prunes at every scale),
    // so the pruned path crosses the process boundary too
    "q203_dedup_lsh_cap_tripped",
    "q81_embedding_neardup_pairs",
    "q202_containment_policy_curve")

  /** The JDK 17 module opens Spark needs outside spark-submit, for the
    * forked driver and its executors alike. */
  val AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** (target, "rows:md5") per target, in [[Targets]] order. */
  private def hashes(master: String, sfDir: String): Seq[(String, String)] = {
    val spark = GraftSession.builder(master)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.executor.extraJavaOptions", AddOpens.mkString(" "))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try Targets.map { name =>
      val rows = SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString).sorted
      SparkEntry.releaseCaches(spark)
      val md = MessageDigest.getInstance("MD5")
      rows.foreach(r => md.update(r.getBytes("UTF-8")))
      name -> s"${rows.length}:${md.digest().map(b => f"$b%02x").mkString}"
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, master) = args
    if (master.startsWith("local-cluster")) {
      val home = sys.env.getOrElse("SPARK_HOME",
        sys.error("local-cluster executors start through the Spark dist: set SPARK_HOME"))
      System.setProperty("spark.testing", "true")
      // under spark.testing the forked Worker takes its dist root from
      // spark.test.home instead of SPARK_HOME
      System.setProperty("spark.test.home", home)
    }
    val local = hashes("local[4]", sfDir)
    val cluster = hashes(master, sfDir)
    val identical = local.zip(cluster).count { case ((name, l), (_, c)) =>
      println(f"PARITY $name%-28s " +
        (if (l == c) s"IDENTICAL $c" else s"MISMATCH local=$l cluster=$c"))
      l == c
    }
    println(s"CLUSTERPARITY $identical/${Targets.size} identical master=$master")
    if (identical != Targets.size) sys.exit(1)
  }
}
