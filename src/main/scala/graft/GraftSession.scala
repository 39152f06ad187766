package graft

import org.apache.spark.sql.SparkSession

/** The one place a main builds its Spark session. Every session runs
  * in UTC (the oracle's DuckDB twins and the reference's dates are
  * UTC), with the engine's optimizer rules (`GraftExtensions`) and
  * without the web UI. A main that needs a setting only it uses adds
  * it with `.config` on the returned builder before `getOrCreate()`.
  *
  * The test suites keep their own plain session (`SparkSpecBase`): the
  * plan audit and snapshot specs pin plans built WITHOUT the
  * extensions. */
object GraftSession {

  /** A builder for `master` with the shared settings. */
  def builder(master: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")

  /** `local[n]` with one shuffle partition per core, where n is
    * `SPARK_GRAFT_CPUS` when set and `defaultCpus` otherwise. */
  def local(defaultCpus: Int): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    builder(s"local[$cpus]").config("spark.sql.shuffle.partitions", cpus)
  }
}
