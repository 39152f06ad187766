package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** GitHub stand-in on loopback, reached through `JdkTransport`.
  *
  * It answers exactly the calls the program emits: the project lookup
  * (GraphQL `projectsNext`), the project-field dimension
  * (`GET /project/fields`), issue create and update (REST), and the
  * `addProjectNextItem` / `updateProjectNextItemField` mutations. It
  * mints issue numbers and project item ids and keeps the remote state
  * the checks read. Any other route answers 404 and is counted in
  * [[unknownRoutes]].
  *
  * Mutations are numbered as they arrive; those whose number is in
  * `rateLimited` are answered once with GitHub's 403 "secondary rate
  * limit" and not applied, so the writer's retry path runs a known
  * number of times.
  */
final class GithubStub(
    org: String,
    repo: String,
    projectTitle: String,
    fieldsJson: String,
    rateLimited: Set[Int]) {

  final class Issue(val number: Long, val nodeId: String, var title: String,
      var body: String, var state: String)

  private val mapper = new ObjectMapper()
  private val issuesPath = s"/repos/$org/$repo/issues"

  // remote state, guarded by `this`
  val issues = mutable.LinkedHashMap.empty[Long, Issue]
  /** issue node id → project item ids added for it */
  val projectItems = mutable.LinkedHashMap.empty[String, mutable.Buffer[String]]
  /** (project item id, field id) → value */
  val fieldValues = mutable.LinkedHashMap.empty[(String, String), String]
  private val itemIssue = mutable.Map.empty[String, String]
  private var mutationsSeen = 0
  var mutationsApplied = 0
  var rateLimitedAnswers = 0
  var unknownRoutes = 0
  private var nextItem = 0L

  // no executor: the server's own dispatcher thread runs the handler,
  // one thread and no hand-off between two per request
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = server.stop(0)

  /** The issue behind a project item. */
  def issueOfItem(itemId: String): Option[Issue] = synchronized {
    itemIssue.get(itemId).flatMap(n => issues.values.find(_.nodeId == n))
  }

  private def handle(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val (status, out) =
      try synchronized(route(ex.getRequestMethod, ex.getRequestURI.toString, body))
      catch { case e: Exception => (500, s"""{"message":${q(String.valueOf(e))}}""") }
    val bytes = out.getBytes(UTF_8)
    ex.getResponseHeaders.add("content-type", "application/json")
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def q(s: String): String = mapper.writeValueAsString(s)

  private def route(method: String, path: String, body: String): (Int, String) = {
    def json: JsonNode = mapper.readTree(body)
    val graphql = method == "POST" && path == "/graphql"
    val query = if (graphql) json.at("/query").asText() else ""
    val isMutation =
      (method == "POST" && path == issuesPath) ||
        (method == "PATCH" && path.startsWith(issuesPath + "/")) ||
        (graphql && (query.contains("addProjectNextItem") ||
          query.contains("updateProjectNextItemField")))
    if (isMutation) {
      val n = mutationsSeen
      mutationsSeen += 1
      if (rateLimited.contains(n)) {
        rateLimitedAnswers += 1
        return (403, """{"message":"You have exceeded a secondary rate limit. """ +
          """Please wait a few minutes before you try again."}""")
      }
    }
    (method, path) match {
      case ("POST", "/graphql") if query.contains("projectsNext") =>
        (200, s"""{"data":{"organization":{"projectsNext":{"nodes":[""" +
          s"""{"id":"PVT_1","number":1,"title":${q(projectTitle)}}]}}}}""")
      case ("GET", "/project/fields") => (200, fieldsJson)
      case ("POST", p) if p == issuesPath =>
        val j = json
        val number = issues.size + 1L
        val issue = new Issue(number, s"I_$number", j.at("/title").asText(),
          j.at("/body").asText(), "open")
        issues(number) = issue
        mutationsApplied += 1
        (201, s"""{"number":$number,"node_id":"${issue.nodeId}","state":"open",""" +
          s""""title":${q(issue.title)},"html_url":"https://github.com/$org/$repo/issues/$number"}""")
      case ("PATCH", p) if p.startsWith(issuesPath + "/") =>
        issues.get(p.substring(issuesPath.length + 1).toLong) match {
          case Some(issue) =>
            val j = json
            if (j.has("title")) issue.title = j.get("title").asText()
            if (j.has("body")) issue.body = j.get("body").asText()
            if (j.has("state")) issue.state = j.get("state").asText()
            mutationsApplied += 1
            (200, s"""{"number":${issue.number},"state":"${issue.state}"}""")
          case None => unknownRoutes += 1; (404, """{"message":"Not Found"}""")
        }
      case ("POST", "/graphql") if query.contains("addProjectNextItem") =>
        val issueNode = json.at("/variables/issueId").asText()
        nextItem += 1
        val id = s"PVTI_$nextItem"
        projectItems.getOrElseUpdate(issueNode, mutable.Buffer.empty) += id
        itemIssue(id) = issueNode
        mutationsApplied += 1
        (200, s"""{"data":{"addProjectNextItem":{"projectNextItem":{"id":"$id"}}}}""")
      case ("POST", "/graphql") if query.contains("updateProjectNextItemField") =>
        val v = json.at("/variables")
        fieldValues((v.at("/itemId").asText(), v.at("/fieldId").asText())) =
          v.at("/value").asText()
        mutationsApplied += 1
        (200, """{"data":{"updateProjectNextItemField":{"projectNextItem":{"id":"x"}}}}""")
      case _ =>
        unknownRoutes += 1
        (404, """{"message":"Not Found"}""")
    }
  }
}
