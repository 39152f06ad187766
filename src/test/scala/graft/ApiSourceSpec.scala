package graft

import graft.sinks.HttpSink.{HttpRequest, HttpResponse, Transport}
import graft.sinks.RequestBuilders
import graft.sources.ApiSource

/** API dimension source: JSON parse, nested settings → option dim →
  * J11 lookup, end to end on a mock transport. */
class ApiSourceSpec extends SparkSpecBase {
  import spark.implicits._

  private val fieldsJson =
    """[{"id":"f1","name":"Status","settings":"{\"options\":[{\"id\":\"o1\",\"name\":\"Pending\"},{\"id\":\"o2\",\"name\":\"Done\"}]}"},
       {"id":"f2","name":"Owner","settings":null}]"""

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private object MockApi extends Transport {
    var calls = 0
    def send(req: HttpRequest): HttpResponse = {
      calls += 1
      if (req.url.startsWith("/fields")) HttpResponse(200, fieldsJson)
      else HttpResponse(200, "[]")
    }
  }

  test("fetchTable parses a JSON payload under the explicit schema") {
    val fields = ApiSource.fetchTable(spark, MockApi, "/fields", ApiSource.fieldSchema)
    assert(fields.count() == 2)
    assert(fields.filter($"name" === "Status").count() == 1)
  }

  test("fieldOptions explodes settings JSON into the option dimension") {
    val fields = ApiSource.fetchTable(spark, MockApi, "/fields", ApiSource.fieldSchema)
    val opts = ApiSource.fieldOptions(fields)
    assert(opts.collect().map(r =>
      (r.getAs[String]("option_name"), r.getAs[String]("option_id"))).toSet
      == Set(("Pending", "o1"), ("Done", "o2")))
  }

  test("fetched options drive the J11 single-select lookup end to end") {
    val fields = ApiSource.fetchTable(spark, MockApi, "/fields", ApiSource.fieldSchema)
    val options = RequestBuilders.optionIds(ApiSource.fieldOptions(fields))
    assert(options == Map("f1" -> Map("Pending" -> "o1", "Done" -> "o2")))
    val writes = Seq(("item1", "f1", "Done"), ("item2", "f1", "Pending"), ("item3", "f2", "alice"))
      .toDF("item_node_id", "field_id", "value")
    val values = RequestBuilders.setFieldValue(writes, options, "PROJ")
      .orderBy("item_node_id").select("body").collect()
      .map(r => mapper.readTree(r.getString(0)).at("/variables/value").asText()).toSeq
    // single-select names become option ids; a free-form field passes through
    assert(values == Seq("o2", "o1", "alice"))
  }
}
