package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.board.{EtlCli, InitMain}
import graft.sinks.HttpSink.{HttpRequest, HttpResponse, Transport}
import graft.sinks.RequestBuilders
import scala.collection.mutable

/** The env-driven entry point (bin/etl + example.env + mustInit,
  * gh.js:48-190) and the bootstrap flow (utils/init.js:8-31), driven
  * end-to-end against a scripted GitHub backend. */
class EtlCliSpec extends SparkSpecBase {

  private val mapper = new ObjectMapper()

  /** example.env-shaped config; field display names differ from ids to
    * prove the name→id resolution actually runs. */
  private val env = Map(
    "GITHUB_ORG" -> "org1",
    "GITHUB_REPO" -> "repo1",
    "GITHUB_PROJECT_NAME" -> "test-migration-3",
    "GITHUB_PROJECT_BOARD_LISTS" ->
      "Concepts:Pending, None:Considering, Production:Completed",
    "GITHUB_TRELLO_DASH_FIELD_NAME" -> "Dash Bounty",
    "GITHUB_TRELLO_OWNER_FIELD_NAME" -> "Owner",
    "GITHUB_TRELLO_FALLBACK_OWNER_FIELD_NAME" -> "Fallback Owner",
    "GITHUB_TRELLO_ID_FIELD_NAME" -> "Trello ID",
    "GITHUB_TRELLO_TYPE_FIELD_NAME" -> "Trello Type",
    "GITHUB_TRELLO_CARD_STATUS_FIELD_NAME" -> "Status",
    "GITHUB_TRELLO_CARD_TYPE_FIELD_NAME" -> "Trello Board Column",
    "GITHUB_TRELLO_LABELS_FIELD_NAME" -> "Trello Labels",
    "GITHUB_TRELLO_TASK_PARENT_FIELD_NAME" -> "Parent",
    "GITHUB_TRELLO_TASK_PARENT_LINK_FIELD_NAME" -> "Parent Link",
    "GITHUB_TRELLO_TASK_TYPE_FIELD_NAME" -> "Task Type",
    "GITHUB_TRELLO_TASK_ASSIGNEE_FIELD_NAME" -> "Trello Assignee")

  private val nameToId = Map(
    "Dash Bounty" -> "F_DASH", "Owner" -> "F_OWNER",
    "Fallback Owner" -> "F_FALLBACK", "Trello ID" -> "F_ID",
    "Trello Type" -> "F_TYPE", "Status" -> "F_STATUS",
    "Trello Board Column" -> "F_CARDTYPE", "Trello Labels" -> "F_LABELS",
    "Parent" -> "F_PARENT", "Parent Link" -> "F_PARENTLINK",
    "Task Type" -> "F_TASKTYPE", "Trello Assignee" -> "F_ASSIGNEE")

  /** Scripted backend: projectsNext lookup, field dim (with the Status
    * options the board lists need), repo 404→create, and the migration
    * mutations. */
  private class FakeGithub(
      projectTitles: Seq[String] = Seq("test-migration-3"),
      repoExists: Boolean = true,
      statusOptions: Seq[String] = Seq("Pending", "Considering", "Completed"))
    extends Transport {
    val log = mutable.Buffer.empty[HttpRequest]
    private var issueSeq = 0
    private var itemSeq = 0
    private val fieldsJson = {
      val opts = statusOptions.map(o =>
        s"""{\\"id\\":\\"opt_${o.toLowerCase}\\",\\"name\\":\\"$o\\"}""")
        .mkString("""{\"options\":[""", ",", "]}")
      nameToId.toSeq.sortBy(_._2).map { case (name, id) =>
        if (id == "F_STATUS") s"""{"id":"$id","name":"$name","settings":"$opts"}"""
        else s"""{"id":"$id","name":"$name","settings":null}"""
      }.mkString("[", ",", "]")
    }
    def send(req: HttpRequest): HttpResponse = {
      log += req
      (req.method, req.url) match {
        case ("POST", "/graphql") if req.body.contains("projectsNext") =>
          val nodes = projectTitles.zipWithIndex.map { case (t, i) =>
            s"""{"id":"PROJ$i","number":${i + 1},"title":"$t"}"""
          }.mkString(",")
          HttpResponse(200,
            s"""{"data":{"organization":{"projectsNext":{"nodes":[$nodes]}}}}""")
        case ("GET", "/project/fields") => HttpResponse(200, fieldsJson)
        case ("GET", "/repos/org1/repo1") =>
          if (repoExists) HttpResponse(200, """{"name":"repo1","full_name":"org1/repo1"}""")
          else HttpResponse(404, """{"message":"Not Found"}""")
        case ("POST", "/orgs/org1/repos") =>
          HttpResponse(201, """{"name":"repo1","full_name":"org1/repo1"}""")
        case ("POST", "/repos/org1/repo1/issues") =>
          issueSeq += 1
          val title = mapper.readTree(req.body).at("/title").asText()
          HttpResponse(201,
            s"""{"number":$issueSeq,"node_id":"ISSUE$issueSeq","state":"open",""" +
              s""""title":${mapper.writeValueAsString(title)},""" +
              s""""html_url":"https://gh.example/org1/repo1/issues/$issueSeq"}""")
        case ("PATCH", url) if url.startsWith("/repos/org1/repo1/issues/") =>
          HttpResponse(200, s"""{"number":${url.split('/').last},"state":"open"}""")
        case ("POST", "/graphql") if req.body.contains("addProjectNextItem") =>
          itemSeq += 1
          HttpResponse(200,
            s"""{"data":{"addProjectNextItem":{"projectNextItem":{"id":"PITEM$itemSeq"}}}}""")
        case ("POST", "/graphql") if req.body.contains("updateProjectNextItemField") =>
          HttpResponse(200,
            """{"data":{"updateProjectNextItemField":{"projectNextItem":{"id":"x"}}}}""")
        case _ => HttpResponse(500, s"unexpected ${req.method} ${req.url}")
      }
    }
  }

  private lazy val boardPath = getClass.getResource("/board.json").getPath

  test("resolveConfig maps env field names to remote ids (mustInit)") {
    val gh = new FakeGithub
    val cfg = EtlCli.resolveConfig(spark, env, gh, secondaryAdminFieldId = "cf1")
    assert(cfg.owner == "org1" && cfg.repo == "repo1")
    assert(cfg.projectNodeId == "PROJ0")
    assert(cfg.listStatusMap == Map(
      "Concepts" -> "Pending", "None" -> "Considering", "Production" -> "Completed"))
    assert(cfg.fieldIds(graft.board.EtlMain.Fields.Dash) == "F_DASH")
    assert(cfg.fieldIds(graft.board.EtlMain.Fields.CardStatus) == "F_STATUS")
    assert(cfg.fieldIds.size == EtlCli.FieldEnvNames.size)
    // the single-select options the field writes translate through
    assert(cfg.optionIds == Map("F_STATUS" -> Map("Pending" -> "opt_pending",
      "Considering" -> "opt_considering", "Completed" -> "opt_completed")))
  }

  test("an error answer on the field dimension fails resolveConfig with its status") {
    // a 401 page parsed as data would read as a project with no fields
    // and report every configured name as missing, hiding the 401
    val gh = new FakeGithub {
      override def send(req: HttpRequest): HttpResponse =
        if (req.url == "/project/fields") {
          log += req
          HttpResponse(401, """{"message":"Bad credentials"}""")
        } else super.send(req)
    }
    val ex = intercept[IllegalArgumentException] {
      EtlCli.resolveConfig(spark, env, gh, "cf1")
    }
    assert(ex.getMessage.contains("401") && ex.getMessage.contains("Bad credentials"),
      ex.getMessage)
  }

  test("project lookup requires EXACT title match (gh.js:290-297)") {
    val gh = new FakeGithub(projectTitles = Seq("test-migration-30", "test-migration-3"))
    val p = RequestBuilders.getProjectByName(gh, "org1", "test-migration-3")
    assert(p.get.id == "PROJ1" && p.get.number == 2)
  }

  test("missing project raises the init remediation message (init.js:18-21)") {
    val gh = new FakeGithub(projectTitles = Seq("something-else"))
    val ex = intercept[EtlCli.MustInitError] {
      EtlCli.resolveConfig(spark, env, gh, "cf1")
    }
    assert(ex.messages.head ==
      "'test-migration-3' does not exist and cannot be created " +
        "automatically via the API. Please go create it at: " +
        "https://github.com/orgs/org1/projects?type=beta")
  }

  test("unknown field names die with the padded remediation report (gh.js:160-170)") {
    val badEnv = env +
      ("GITHUB_TRELLO_DASH_FIELD_NAME" -> "No Such Field") +
      ("GITHUB_TRELLO_OWNER_FIELD_NAME" -> "Nope")
    val ex = intercept[EtlCli.MustInitError] {
      EtlCli.resolveConfig(spark, badEnv, new FakeGithub, "cf1")
    }
    val msg = ex.messages
    assert(msg.contains("The following are not fields of 'test-migration-3':"))
    // padEnd(maxLen + 2): both quoted names padded to the longest
    // ("No Such Field" quoted is exactly maxLen + 2 = 15 chars; "Nope"
    // quoted is 6, padded with 9 trailing spaces)
    assert(msg.contains("""    "No Such Field" ('GITHUB_TRELLO_DASH_FIELD_NAME')"""))
    assert(msg.contains("""    "Nope"          ('GITHUB_TRELLO_OWNER_FIELD_NAME')"""))
    assert(msg.exists(_.contains("projects/1/views/1")))
  }

  test("board-list statuses must exist as Status options (gh.js:76-90)") {
    val gh = new FakeGithub(statusOptions = Seq("Pending", "Considering"))
    val ex = intercept[EtlCli.MustInitError] {
      EtlCli.resolveConfig(spark, env, gh, "cf1")
    }
    assert(ex.messages.contains(
      "The following are not board list columns of 'test-migration-3':"))
    assert(ex.messages.contains("    Completed"))
    assert(ex.messages.exists(_.endsWith("views/1?layout=board")))
  }

  test("undefined field env var reports the reference's message (gh.js:117-121)") {
    val ex = intercept[EtlCli.MustInitError] {
      EtlCli.resolveConfig(spark, env - "GITHUB_TRELLO_TASK_TYPE_FIELD_NAME",
        new FakeGithub, "cf1")
    }
    assert(ex.messages.contains(
      "process.env['GITHUB_TRELLO_TASK_TYPE_FIELD_NAME'] is not defined (but should be)"))
  }

  test("run drives the full migration from env config (bin/etl)") {
    val gh = new FakeGithub
    val result = EtlCli.run(spark, env, gh, boardPath)
    // same migration as EtlMainSpec: 4 creates, 4 adds, 30 field sets,
    // 1 markdown finalize — reached purely from env + remote dims
    val creates = gh.log.filter(r =>
      r.method == "POST" && r.url == "/repos/org1/repo1/issues")
    assert(creates.size == 4)
    val sets = gh.log.filter(_.body.contains("updateProjectNextItemField"))
    assert(sets.size == 30)
    // resolved REMOTE ids in the payloads, never the env display names
    assert(sets.exists(_.body.contains(""""fieldId":"F_DASH"""")))
    assert(sets.forall(!_.body.contains("Dash Bounty")))
    assert(result.report.failed == 0)
    assert(result.issueLedger.count() == 4)
  }

  test("GRAFT_STATE_DIR makes CLI runs resumable (the reference's automatic db.json)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-state").toString
    try {
      val gh = new FakeGithub
      val first = EtlCli.run(spark, env + ("GRAFT_STATE_DIR" -> dir), gh, boardPath)
      assert(first.report.failed == 0)
      assert(first.issueLedger.count() == 4)

      // a brand-new "process" with the same state dir: config
      // resolution still queries project/fields (mustInit re-validates
      // every run, gh.js:48-190) but ZERO mutations go on the wire
      val gh2 = new FakeGithub
      val second = EtlCli.run(spark, env + ("GRAFT_STATE_DIR" -> dir), gh2, boardPath)
      val mutations = gh2.log.filter(r =>
        r.method == "PATCH" || r.url.startsWith("/repos/") ||
          r.body.contains("addProjectNextItem") ||
          r.body.contains("updateProjectNextItemField"))
      assert(mutations.isEmpty, mutations.take(3))
      assert(second.report.sent == 0)
      // the returned ledgers read the freshly-saved generation
      assert(second.issueLedger.count() == 4)
      assert(second.fieldLedger.count() == 30)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("the CLI migrates over live HTTP through JdkTransport, reading the " +
      "field dimension once per run") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    // the scripted backend served over a REAL socket: config
    // resolution and the mutations both go through one JdkTransport
    val gh = new FakeGithub
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val url = ex.getRequestURI.getPath +
          Option(ex.getRequestURI.getQuery).map("?" + _).getOrElse("")
        // the scripted backend mutates counters: serialize at the door
        val resp = gh.synchronized {
          gh.send(HttpRequest(ex.getRequestMethod, url, body))
        }
        val bytes = resp.body.getBytes("UTF-8")
        ex.sendResponseHeaders(resp.status, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val transport = new graft.sinks.JdkTransport(
        s"http://127.0.0.1:${server.getAddress.getPort}")
      val result = EtlCli.run(spark, env, transport, boardPath)
      // same migration as the scripted-Transport run: 4 creates, 30
      // field sets, resolved remote ids in payloads
      val creates = gh.log.filter(r =>
        r.method == "POST" && r.url == "/repos/org1/repo1/issues")
      assert(creates.size == 4)
      val sets = gh.log.filter(_.body.contains("updateProjectNextItemField"))
      assert(sets.size == 30)
      assert(sets.exists(_.body.contains(""""fieldId":"F_DASH"""")))
      assert(result.report.failed == 0)
      assert(result.issueLedger.count() == 4)
      // mustInit's one read: the migration takes its field and option
      // ids from the resolved config
      assert(gh.log.count(r => r.method == "GET" && r.url == "/project/fields") == 1)
      assert(gh.log.forall(r => r.method != "GET" || r.url == "/project/fields"))
    } finally server.stop(0)
  }

  test("parseBoardLists mirrors the reference split (gh.js:78-80)") {
    assert(EtlCli.parseBoardLists("A:B, None:C,  D:E ") ==
      Map("A" -> "B", "None" -> "C", "D" -> "E"))
  }

  // ---- InitMain (utils/init.js:8-31)

  test("init: existing repo + project → Ready, no create call") {
    val gh = new FakeGithub
    val r = InitMain.run(gh, "org1", "repo1", "test-migration-3")
    assert(r.isInstanceOf[InitMain.Ready])
    assert(r.asInstanceOf[InitMain.Ready].project.id == "PROJ0")
    // getOrCreate sequence: exactly one GET, no POST /orgs/org1/repos
    assert(gh.log.count(r => r.method == "GET" && r.url == "/repos/org1/repo1") == 1)
    assert(!gh.log.exists(r => r.url == "/orgs/org1/repos"))
  }

  test("init: 404 repo is created first (gh.js:506-527), then project checked") {
    val gh = new FakeGithub(repoExists = false)
    val r = InitMain.run(gh, "org1", "repo1", "test-migration-3")
    assert(r.isInstanceOf[InitMain.Ready])
    val urls = gh.log.map(r => s"${r.method} ${r.url}")
    val getIdx = urls.indexOf("GET /repos/org1/repo1")
    val createIdx = urls.indexOf("POST /orgs/org1/repos")
    val projIdx = urls.indexOf("POST /graphql")
    assert(getIdx >= 0 && createIdx > getIdx && projIdx > createIdx)
  }

  test("init: missing project → remediation message, after repo ensure") {
    val gh = new FakeGithub(projectTitles = Seq.empty)
    val r = InitMain.run(gh, "org1", "repo1", "test-migration-3")
    val msg = r.asInstanceOf[InitMain.MissingProject].message
    assert(msg ==
      "'test-migration-3' does not exist and cannot be created automatically " +
        "via the API. Please go create it at: " +
        "https://github.com/orgs/org1/projects?type=beta")
    assert(gh.log.exists(r => r.url == "/repos/org1/repo1"))
  }
}
