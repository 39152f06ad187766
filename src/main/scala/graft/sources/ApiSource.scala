package graft.sources

import graft.sinks.HttpSink.{HttpRequest, Transport}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** API source layer — the reference's GraphQL/REST reads (S7-S10:
  * lib/gh.js:221-332, 397-428, 506-513) as Spark sources: the driver
  * fetches one JSON payload through the pluggable [[Transport]] (tiny
  * dimension data — projects, fields, org metadata), then the payload
  * is parsed with `from_json` into a DataFrame for broadcast joins.
  *
  * Dimensions fetched this way are inherently small (page-capped APIs);
  * the 100 TB axis is never an API — that's what the parquet/stream
  * sources are for, and an endpoint that pages is read by the
  * partition-per-page DSv2 source ([[ApiDataSource]]), which walks
  * pages until exhaustion rather than silently truncating at 100 like
  * the reference (gh.js:271,409; SURVEY §7.3 hard part). The parsed
  * dimension immediately becomes a broadcastable DataFrame instead of
  * driver-side mutable state.
  */
object ApiSource {

  /** `{id, name, settings}` field metadata (gh.js:397-426), with
    * `settings` itself a JSON string — parsed on demand (§1.2). */
  val fieldSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("name", StringType),
    StructField("settings", StringType)))

  val optionSchema: StructType = StructType(Seq(
    StructField("options", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType)))))))

  /** Fetch one endpoint and parse its JSON array body into rows. A
    * non-2xx answer fails with its status and body: an error page
    * parsed as data would read as a dimension with nothing in it. */
  def fetchTable(
      spark: SparkSession,
      transport: Transport,
      url: String,
      schema: StructType): DataFrame = {
    val resp = transport.send(HttpRequest("GET", url, ""))
    require(resp.status >= 200 && resp.status < 300,
      s"GET $url failed: ${resp.status} ${resp.body}")
    parseJsonArray(spark, resp.body, schema)
  }

  /** One JSON array string → DataFrame rows under an explicit schema. */
  def parseJsonArray(spark: SparkSession, json: String, schema: StructType): DataFrame = {
    import spark.implicits._
    Seq(json).toDF("j")
      .select(explode(from_json(col("j"), ArrayType(schema))).as("r"))
      .select(col("r.*"))
  }

  /** Field dimension with `settings.options` exploded — feeds the J11
    * option-id lookup (`RequestBuilders.optionIds`, then
    * `RequestBuilders.setFieldValue`). */
  def fieldOptions(fields: DataFrame): DataFrame =
    fields
      .withColumn("parsed", from_json(col("settings"), optionSchema))
      .select(col("id").as("field_id"), col("name").as("field_name"),
        explode(col("parsed.options")).as("o"))
      .select(col("field_id"), col("field_name"),
        col("o.name").as("option_name"), col("o.id").as("option_id"))
}
