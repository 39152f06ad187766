package graft.sinks

import graft.sinks.HttpSink.{HttpRequest, HttpResponse, Transport}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Request-body builders (S11-S15): turn change-set DataFrames into the
  * concrete REST / GraphQL payload rows the reference renders, plus the
  * driver-side bootstrap calls (S16/S17).
  *
  * Each DataFrame builder appends `method`/`url`/`body` columns (the
  * [[HttpSink.sendPhase]] contract) and passes every input column
  * through, so callers keep their entity keys for pairing responses.
  * Bodies are built with `to_json(struct(...))` — codegen'd, correctly
  * escaped, null fields dropped (so a PATCH carries only the fields
  * being changed, like the reference's partial update objects).
  *
  * Reference payloads mirrored:
  *  - create issue  POST /repos/{owner}/{repo}/issues   (lib/gh.js:192-195,
  *    object shape from lib/transform.js:72-84 mapCardToIssue)
  *  - update issue  PATCH /repos/{owner}/{repo}/issues/{n} (lib/gh.js:196-202)
  *  - add project item    GraphQL addProjectNextItem    (lib/gh.js:348-367)
  *  - set field value     GraphQL updateProjectNextItemField with
  *    name→option-id translation                        (lib/gh.js:430-485)
  *  - repo getOrCreate    GET then 404→create           (lib/gh.js:506-527)
  *  - project create      GraphQL createProject + org-id lookup
  *                                                      (lib/gh.js:221-264)
  *
  * GraphQL documents are the reference's, whitespace-normalized to one
  * line (semantically identical; the tests assert OUR canonical bytes).
  */
object RequestBuilders {

  // ---- GraphQL documents (gh.js:352-363, 456-476, 225-231, 246-259)
  val AddProjectItemMutation: String =
    "mutation($projectId: String! $issueId: String!) { " +
      "addProjectNextItem(input: { projectId: $projectId contentId: $issueId }) " +
      "{ projectNextItem { id } } }"

  val SetFieldValueMutation: String =
    "mutation($projectId: String! $itemId: String! $fieldId: String! $value: String!) { " +
      "updateProjectNextItemField(input: { projectId: $projectId itemId: $itemId " +
      "fieldId: $fieldId value: $value }) { projectNextItem { id } } }"

  val OrgIdQuery: String =
    "query($login: String!) { organization(login: $login) { id } }"

  val ProjectsByNameQuery: String =
    "query($login: String!, $name: String) { organization(login: $login) { " +
      "projectsNext(last: 100, query: $name) { nodes { id number title } } } }"

  val CreateProjectMutation: String =
    "mutation($ownerId: ID! $name: String! $repositoryIds: [ID!]) { " +
      "createProject(input: { ownerId: $ownerId name: $name " +
      "repositoryIds: $repositoryIds }) { project { id } } }"

  /** POST /repos/{owner}/{repo}/issues. Input columns: `title`,
    * `issue_body`, `assignees` (array<string>). */
  def createIssue(df: DataFrame, owner: String, repo: String): DataFrame =
    df.withColumn("method", lit("POST"))
      .withColumn("url", lit(s"/repos/$owner/$repo/issues"))
      .withColumn("body", to_json(struct(
        col("title"), col("issue_body").as("body"), col("assignees"))))

  /** PATCH /repos/{owner}/{repo}/issues/{issue_number}. Input columns:
    * `issue_number` plus any of `title`, `issue_body`, `state` — null
    * columns are dropped from the JSON, giving the reference's partial
    * update objects (etl.js:157-162, 199-218, 224). */
  def updateIssue(df: DataFrame, owner: String, repo: String): DataFrame = {
    val present = Seq(("title", "title"), ("issue_body", "body"), ("state", "state"))
      .collect { case (in, out) if df.columns.contains(in) => col(in).as(out) }
    df.withColumn("method", lit("PATCH"))
      .withColumn("url",
        concat(lit(s"/repos/$owner/$repo/issues/"), col("issue_number").cast("string")))
      .withColumn("body", to_json(struct(present: _*)))
  }

  /** POST /graphql addProjectNextItem. Input column: `issue_node_id`. */
  def addProjectItem(df: DataFrame, projectNodeId: String): DataFrame =
    df.withColumn("method", lit("POST"))
      .withColumn("url", lit("/graphql"))
      .withColumn("body", to_json(struct(
        lit(AddProjectItemMutation).as("query"),
        struct(lit(projectNodeId).as("projectId"),
               col("issue_node_id").as("issueId")).as("variables"))))

  /** The single-select option dim, collected: field id → (option name
    * → option id). Option dims are a project's few select fields, so
    * the lookup travels as a literal in the plan, not as a join.
    * `options` dim columns: `field_id`, `option_name`, `option_id`. */
  def optionIds(options: DataFrame): Map[String, Map[String, String]] =
    options.select("field_id", "option_name", "option_id").collect().toSeq
      .groupBy(_.getString(0))
      .map { case (field, rows) => field -> rows.map(r => r.getString(1) -> r.getString(2)).toMap }

  /** POST /graphql updateProjectNextItemField, with the reference's
    * name→option-id translation (gh.js:439-452): when the target field
    * is single-select (has options), the human value is replaced by its
    * option id and an unknown value raises from the executor with the
    * offending value in the message; free-form fields pass through.
    *
    * Input columns: `item_node_id`, `field_id`, `value`. `options` is
    * [[optionIds]] of the field dim. */
  def setFieldValue(df: DataFrame, options: Map[String, Map[String, String]],
      projectNodeId: String): DataFrame = {
    val fieldOptions = element_at(typedLit(options), col("field_id"))
    val optionId = element_at(fieldOptions, col("value"))
    df.withColumn("resolved_value",
        when(fieldOptions.isNull, col("value"))
          .when(optionId.isNotNull, optionId)
          .otherwise(raise_error(concat(
            lit("Could not find '"), col("value"), lit("' among options for '"),
            col("field_id"), lit("'")))))
      .withColumn("method", lit("POST"))
      .withColumn("url", lit("/graphql"))
      .withColumn("body", to_json(struct(
        lit(SetFieldValueMutation).as("query"),
        struct(lit(projectNodeId).as("projectId"),
               col("item_node_id").as("itemId"),
               col("field_id").as("fieldId"),
               col("resolved_value").as("value")).as("variables"))))
      .drop("resolved_value")
  }

  // ---- driver-side bootstrap (connector tier: one-off tiny calls, the
  //      analytic path never goes through these)

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** S16: idempotent repo ensure (gh.js:506-527) — GET, and only on 404
    * create it; any other non-2xx error propagates. Returns the repo
    * JSON body (fetched or created). */
  def getOrCreateRepo(transport: Transport, owner: String, name: String): String = {
    val got = transport.send(HttpRequest("GET", s"/repos/$owner/$name", ""))
    if (got.status >= 200 && got.status < 300) got.body
    else if (got.status == 404) {
      val created = transport.send(HttpRequest(
        "POST", s"/orgs/$owner/repos", s"""{"name":${mapper.writeValueAsString(name)}}"""))
      require(created.status >= 200 && created.status < 300,
        s"repo create failed: ${created.status} ${created.body}")
      created.body
    } else sys.error(s"repo get failed: ${got.status} ${got.body}")
  }

  /** S17: project bootstrap (gh.js:221-264) — resolve the org node id,
    * then createProject; returns the new project's node id. */
  def createProject(
      transport: Transport,
      login: String,
      name: String,
      repositoryIds: Seq[String] = Seq.empty): String = {
    val orgResp = graphql(transport, OrgIdQuery,
      mapper.createObjectNode().put("login", login))
    val ownerId = orgResp.at("/data/organization/id").asText()
    require(ownerId.nonEmpty, s"org '$login' not found: $orgResp")
    val vars = mapper.createObjectNode().put("ownerId", ownerId).put("name", name)
    val ids = vars.putArray("repositoryIds")
    repositoryIds.foreach(ids.add)
    val projResp = graphql(transport, CreateProjectMutation, vars)
    // INHERITED QUIRK (SURVEY §7.3): the reference reads the id from
    // `/data/project/id` (gh.js:264) even though a real ProjectsNext
    // GraphQL response nests it under `/data/createProject/...` — the
    // path is reproduced verbatim so byte-level fixtures and behavior
    // match the reference; a real-API adapter would remap it.
    projResp.at("/data/project/id").asText()
  }

  final case class ProjectInfo(id: String, number: Long, title: String)

  /** Project lookup by title (gh.js:266-297): list the org's beta
    * projects filtered by name, then match on EXACT title equality —
    * the query filter is a search, so a prefix collision ("test" vs
    * "test-2") must not count. None when absent (the caller decides
    * whether that's the init remediation or an error). */
  def getProjectByName(
      transport: Transport,
      login: String,
      name: String): Option[ProjectInfo] = {
    val vars = mapper.createObjectNode().put("login", login).put("name", name)
    val resp = graphql(transport, ProjectsByNameQuery, vars)
    val nodes = resp.at("/data/organization/projectsNext/nodes")
    val it = nodes.elements()
    var found: Option[ProjectInfo] = None
    while (found.isEmpty && it.hasNext) {
      val n = it.next()
      if (n.at("/title").asText() == name)
        found = Some(ProjectInfo(n.at("/id").asText(), n.at("/number").asLong(),
          n.at("/title").asText()))
    }
    found
  }

  /** One GraphQL call; reference error contract (gh.js:204-219): any
    * `errors` in the body is a hard error. */
  def graphql(
      transport: Transport,
      query: String,
      variables: com.fasterxml.jackson.databind.JsonNode): com.fasterxml.jackson.databind.JsonNode = {
    val body = mapper.createObjectNode()
    body.put("query", query)
    body.set[com.fasterxml.jackson.databind.node.ObjectNode]("variables", variables)
    val resp = transport.send(HttpRequest("POST", "/graphql", mapper.writeValueAsString(body)))
    val parsed = mapper.readTree(resp.body)
    require(resp.status >= 200 && resp.status < 300 && !parsed.has("errors"),
      s"graphql errors: ${resp.status} ${resp.body}")
    parsed
  }
}
