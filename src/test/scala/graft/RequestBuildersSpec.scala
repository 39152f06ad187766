package graft

import graft.sinks.HttpSink.{HttpRequest, HttpResponse, Transport}
import graft.sinks.RequestBuilders
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Byte-exact payload rendering for every mutation kind (S11-S15) and
  * the driver-side bootstrap flows (S16/S17). */
class RequestBuildersSpec extends SparkSpecBase {
  import spark.implicits._

  test("create-issue body matches the reference's object shape byte-for-byte") {
    val df = Seq(("c1", "A \"quoted\" title", "Imported from <u>.\n\n> d", Seq("alice", "bob")))
      .toDF("entity_id", "title", "issue_body", "assignees")
    val r = RequestBuilders.createIssue(df, "org1", "repo1")
      .select("method", "url", "body").head()
    assert(r.getString(0) == "POST")
    assert(r.getString(1) == "/repos/org1/repo1/issues")
    assert(r.getString(2) ==
      """{"title":"A \"quoted\" title","body":"Imported from <u>.\n\n> d","assignees":["alice","bob"]}""")
  }

  test("update-issue PATCH carries only the present fields") {
    val close = Seq(("i1", 7L, "closed")).toDF("entity_id", "issue_number", "state")
    val r1 = RequestBuilders.updateIssue(close, "o", "r").select("method", "url", "body").head()
    assert(r1.getString(0) == "PATCH" && r1.getString(1) == "/repos/o/r/issues/7")
    assert(r1.getString(2) == """{"state":"closed"}""")

    val retitle = Seq(("i2", 8L, "new title", "body text"))
      .toDF("entity_id", "issue_number", "title", "issue_body")
    val r2 = RequestBuilders.updateIssue(retitle, "o", "r").select("body").head()
    assert(r2.getString(0) == """{"title":"new title","body":"body text"}""")
  }

  test("addProjectNextItem GraphQL body carries projectId + contentId variables") {
    val df = Seq(("c1", "NODE9")).toDF("entity_id", "issue_node_id")
    val body = RequestBuilders.addProjectItem(df, "PROJ1").select("body").head().getString(0)
    assert(body ==
      s"""{"query":"${RequestBuilders.AddProjectItemMutation.replace("\"", "\\\"")}","variables":{"projectId":"PROJ1","issueId":"NODE9"}}""")
    assert(body.contains("addProjectNextItem"))
  }

  test("setFieldValue translates single-select names to option ids; " +
      "free-form passes through; unknown option raises") {
    val options = RequestBuilders.optionIds(
      Seq(("F_STATUS", "Pending", "opt1"), ("F_STATUS", "Done", "opt2"))
        .toDF("field_id", "option_name", "option_id"))
    val df = Seq(
      ("e1", "F_STATUS", "Pending", "ITEM1"),
      ("e1", "F_FREE", "anything", "ITEM1"))
      .toDF("entity_id", "field_id", "value", "item_node_id")
    val out = RequestBuilders.setFieldValue(df, options, "PROJ1")
      .select("field_id", "body").collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(out("F_STATUS").contains(""""fieldId":"F_STATUS","value":"opt1""""))
    assert(out("F_FREE").contains(""""fieldId":"F_FREE","value":"anything""""))

    val bad = Seq(("e1", "F_STATUS", "Nope", "ITEM1"))
      .toDF("entity_id", "field_id", "value", "item_node_id")
    val ex = intercept[Exception] {
      RequestBuilders.setFieldValue(bad, options, "PROJ1").collect()
    }
    assert(ex.getMessage.contains("Nope") || ex.getCause.getMessage.contains("Nope"))
  }

  private class Scripted(routes: PartialFunction[(String, String), HttpResponse])
      extends Transport {
    val log = mutable.Buffer.empty[HttpRequest]
    def send(req: HttpRequest): HttpResponse = {
      log += req
      routes.applyOrElse((req.method, req.url),
        (_: (String, String)) => HttpResponse(500, "unexpected"))
    }
  }

  test("getOrCreateRepo: existing repo is not re-created; 404 creates (S16)") {
    val existing = new Scripted({
      case ("GET", "/repos/o/r1") => HttpResponse(200, """{"name":"r1"}""")
    })
    assert(RequestBuilders.getOrCreateRepo(existing, "o", "r1") == """{"name":"r1"}""")
    assert(existing.log.map(_.method) == Seq("GET"))

    val created = new Scripted({
      case ("GET", "/repos/o/r2") => HttpResponse(404, """{"message":"Not Found"}""")
      case ("POST", "/orgs/o/repos") => HttpResponse(201, """{"name":"r2"}""")
    })
    assert(RequestBuilders.getOrCreateRepo(created, "o", "r2") == """{"name":"r2"}""")
    assert(created.log.map(_.method) == Seq("GET", "POST"))
    assert(created.log(1).body == """{"name":"r2"}""")
  }

  test("createProject resolves the org id then mutates (S17)") {
    val t = new Transport {
      val log = mutable.Buffer.empty[HttpRequest]
      def send(req: HttpRequest): HttpResponse = {
        log += req
        if (req.body.contains("organization"))
          HttpResponse(200, """{"data":{"organization":{"id":"ORG_NODE"}}}""")
        else
          HttpResponse(200, """{"data":{"project":{"id":"PROJ_NODE"}}}""")
      }
    }
    val id = RequestBuilders.createProject(t, "o", "Board", Seq("R1"))
    assert(id == "PROJ_NODE")
    assert(t.log.size == 2)
    assert(t.log(1).body.contains(""""ownerId":"ORG_NODE""""))
    assert(t.log(1).body.contains(""""repositoryIds":["R1"]"""))
  }
}
