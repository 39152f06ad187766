package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump `.explain("formatted")` for named queries to files — the
  * before/after plan evidence the optimization rounds commit under
  * plans/rNN/. Usage:
  *   runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>
  * writes <outDir>/<name>_<suffix>.txt per query. Data dir from
  * SPARK_GRAFT_SF_DIR (default sf0.1), cores from SPARK_GRAFT_CPUS.
  *
  * Iterative operators (CC, k-means, PQ, the index builders) pin
  * intermediates with `localCheckpoint`, so the FINAL frame's plan is
  * just a Scan ExistingRDD readout — vacuous as before/after evidence
  * (the r21 verdict's q106/q96 complaint). Dataset.checkpoint runs
  * through `withAction`, so a QueryExecutionListener sees every
  * pre-checkpoint QueryExecution; each dump file carries the final
  * readout plan FIRST, then every intermediate execution the query's
  * construction triggered, in order, so a claimed node change inside
  * the loop is visible in the committed artifact. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length != 3) {
      System.err.println(
        "usage: runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>\n" +
          "  env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), " +
          "SPARK_GRAFT_CPUS (default 32)")
      sys.exit(2)
    }
    val Array(outDir, suffix, names) = args
    val wanted = names.split(",").filter(_.nonEmpty).toSeq
    val unknown = wanted.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[plandump] unknown queries: ${unknown.mkString(",")}\n" +
        s"  known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(",")}")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))

    // records every execution the query's CONSTRUCTION runs (checkpoint
    // materializations, forcing counts) — the plans a readout behind a
    // localCheckpoint boundary hides
    val captured = new scala.collection.mutable.ArrayBuffer[(String, String)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = captured.synchronized {
        captured += ((funcName,
          qe.explainString(org.apache.spark.sql.execution.FormattedMode)))
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    wanted.foreach { n =>
      val fn = SparkEntry.queries(n)
      captured.synchronized(captured.clear())
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // QueryExecutionListener events post async — drain before reading
      org.apache.spark.graftbridge.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      val inner = captured.synchronized(captured.toVector)
      val body = new StringBuilder(txt)
      inner.zipWithIndex.foreach { case ((fname, plan), i) =>
        body.append(
          s"\n\n== intermediate execution ${i + 1}/${inner.size} ($fname) " +
            "— pre-checkpoint plan ==\n")
        body.append(plan)
      }
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), body.toString)
      System.err.println(s"[plandump] wrote $outDir/${n}_$suffix.txt " +
        s"(${inner.size} intermediate executions)")
      SparkEntry.releaseCaches(spark)
    }
    spark.stop()
  }
}
