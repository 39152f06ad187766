package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.AnalysisException

/** The schema memo in [[Tables]]: a repeated load of unchanged files
  * launches no footer-inference job, a rewritten table is re-inferred,
  * and a missing path or an empty directory still fails the way
  * `EventsStreaming.probeSchema` expects. */
class TablesSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  /** A fresh directory holding copies of the named sf0.001 tables, so
    * no earlier load in this JVM has memoized their schemas. */
  private def freshCopy(names: String*): Path = {
    val dir = Files.createTempDirectory("graft_tables")
    names.foreach(n => Files.copy(Paths.get(s"$sf/$n.parquet"), dir.resolve(s"$n.parquet")))
    dir
  }

  test("a second load of an unchanged table launches no Spark job") {
    val dir = freshCopy("region", "events").toString
    assert(jobsIn(Tables.load(spark, dir, "region")) > 0,
      "the first load should infer the schema in a job")
    assert(jobsIn(Tables.load(spark, dir, "region")) == 0)
    val first = Tables.events(spark, dir)
    val again = jobsIn(Tables.events(spark, dir))
    assert(again == 0)
    assert(Tables.events(spark, dir).schema == first.schema)
    assert(Tables.events(spark, dir).count() == first.count())
  }

  test("a table rewritten at the same path with an added column shows the column") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables").toString
    val path = s"$dir/t.parquet"
    Seq(1, 2).toDF("a").write.parquet(path)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a"))
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a"))
    Seq((3, "x")).toDF("a", "b").write.mode("overwrite").parquet(path)
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((3, "x")))
  }

  test("a missing path and an empty directory raise the AnalysisException probeSchema matches") {
    import spark.implicits._
    def probeMatches(e: AnalysisException): Boolean = {
      val m = String.valueOf(e.getMessage)
      m.contains("Unable to infer schema") || m.contains("Path does not exist") ||
        m.contains("empty")
    }
    val dir = Files.createTempDirectory("graft_tables")
    Seq("missing", "empty", "marker").foreach { n =>
      if (n != "missing") Files.createDirectory(dir.resolve(s"$n.parquet"))
      if (n == "marker") Files.createFile(dir.resolve(s"$n.parquet/_SUCCESS"))
      val load = intercept[AnalysisException](Tables.load(spark, dir.toString, n))
      assert(probeMatches(load), s"$n: ${load.getMessage}")
      val raw = intercept[AnalysisException](
        Tables.loadEventsRaw(spark, dir.resolve(s"$n.parquet").toString))
      assert(probeMatches(raw), s"$n: ${raw.getMessage}")
    }
    // nothing was memoized for the empty directory: data written there
    // later loads with its own schema
    Seq(7L).toDF("x").write.mode("overwrite").parquet(dir.resolve("empty.parquet").toString)
    assert(Tables.load(spark, dir.toString, "empty").columns.toSeq == Seq("x"))
  }
}
