package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Optional local-iteration filter (the driver never sets this).
    val selected = SparkEntry.only.getOrElse(SparkEntry.allDefs)
    val spark = GraftSession.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Schema pin: name the drifted column up front instead of letting N
    // queries fail with opaque analysis errors (round-11 incident). Warn
    // loudly but keep going — adaptive readers may still be green.
    Tables.schemaDrift(spark, sfDir).foreach { d =>
      System.err.println(s"[verify] TESTDATA SCHEMA DRIFT — $d")
    }
    new java.io.File(outDir).mkdirs()
    selected.foreach { case QueryDef(name, fn, _, _) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      SparkEntry.releaseCaches(spark) // catalog cache + checkpoint blocks
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
