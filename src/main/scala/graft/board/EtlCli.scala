package graft.board

import graft.GraftSession
import graft.board.EtlMain.{EtlConfig, EtlResult, Fields}
import graft.sinks.HttpSink.Transport
import graft.sinks.{JdkTransport, RequestBuilders}
import graft.sources.{ApiSource, DimFiles}
import graft.state.StateStore
import org.apache.spark.sql.SparkSession

/** The runnable entry point — the reference's `bin/etl` + dotenv flow
  * (bin/etl:1-24, example.env, lib/gh.js:48-190 mustInit): assemble an
  * [[EtlMain.EtlConfig]] from environment variables and the
  * hand-maintained dim files, validate the remote project the way
  * mustInit does (board-list columns exist as Status options; every
  * configured field name resolves to a field id), reading its field
  * dimension once, then run the migration through a real HTTP
  * transport.
  *
  * Config surface (example.env):
  *   GITHUB_ORG / GITHUB_REPO / GITHUB_TOKEN / GITHUB_PROJECT_NAME
  *   GITHUB_PROJECT_BOARD_LISTS      "TrelloList:Status, ..." pairs
  *   GITHUB_TRELLO_*_FIELD_NAME      project field display names
  *
  * mustInit's env mutation (gh.js:133-141 writes resolved ids back into
  * `process.env`) becomes a pure name→id map inside the config — same
  * resolution, no global state.
  */
object EtlCli {

  /** env var → logical field key, in the reference's validation order
    * (gh.js:92-115). */
  val FieldEnvNames: Seq[(String, String)] = Seq(
    "GITHUB_TRELLO_DASH_FIELD_NAME" -> Fields.Dash,
    "GITHUB_TRELLO_OWNER_FIELD_NAME" -> Fields.Owner,
    "GITHUB_TRELLO_FALLBACK_OWNER_FIELD_NAME" -> Fields.FallbackOwner,
    "GITHUB_TRELLO_ID_FIELD_NAME" -> Fields.TrelloId,
    "GITHUB_TRELLO_TYPE_FIELD_NAME" -> Fields.TrelloType,
    "GITHUB_TRELLO_CARD_STATUS_FIELD_NAME" -> Fields.CardStatus,
    "GITHUB_TRELLO_CARD_TYPE_FIELD_NAME" -> Fields.CardType,
    "GITHUB_TRELLO_LABELS_FIELD_NAME" -> Fields.Labels,
    "GITHUB_TRELLO_TASK_PARENT_FIELD_NAME" -> Fields.TaskParent,
    "GITHUB_TRELLO_TASK_PARENT_LINK_FIELD_NAME" -> Fields.TaskParentLink,
    "GITHUB_TRELLO_TASK_TYPE_FIELD_NAME" -> Fields.TaskType,
    "GITHUB_TRELLO_TASK_ASSIGNEE_FIELD_NAME" -> Fields.TaskAssignee)

  /** "Concepts:Pending, None:Considering, ..." → trello list →
    * github status (gh.js:76-90 split on `[,\s]+` then `:`; the q51
    * operator is the same parse as a Spark plan). Pairs without both
    * sides of the ':' are reported via [[malformedBoardLists]] and
    * skipped here, so a config typo surfaces as a MustInitError
    * remediation line instead of an index-out-of-bounds. */
  def parseBoardLists(cfg: String): Map[String, String] =
    cfg.trim.split("[,\\s]+").filter(_.nonEmpty).flatMap { pair =>
      pair.split(":") match {
        case Array(list, status, _*) => Some(list -> status)
        case _ => None
      }
    }.toMap

  /** Board-list pairs that do not parse as `TrelloList:Status`. */
  def malformedBoardLists(cfg: String): Seq[String] =
    cfg.trim.split("[,\\s]+").filter(_.nonEmpty).toSeq
      .filter(_.split(":").length < 2)

  /** Configuration/validation failure carrying the reference's
    * remediation text (mustInit dies with it, gh.js:144-176). */
  final class MustInitError(val messages: Seq[String])
    extends RuntimeException(messages.mkString("\n"))

  /** The reference's remediation for a project that does not exist
    * (utils/init.js:18-21): beta Projects cannot be created through
    * this API path, so the user is sent to create it by hand. */
  def missingProjectMessage(org: String, projectName: String): String =
    s"'$projectName' does not exist and cannot be created automatically " +
      s"via the API. Please go create it at: " +
      s"https://github.com/orgs/$org/projects?type=beta"

  /** mustInit (gh.js:48-190) as a pure resolution step, and the run's
    * only read of the project-field dimension. Returns the
    * fully-resolved config (field names to ids, and each single-select
    * field's option names to ids for [[RequestBuilders.setFieldValue]]);
    * throws [[MustInitError]] with the reference's remediation report
    * when the project is missing, a board-list status is not a Status
    * column, or a configured field name does not exist on the
    * project. */
  def resolveConfig(
      spark: SparkSession,
      env: Map[String, String],
      transport: Transport,
      secondaryAdminFieldId: String): EtlConfig = {
    // required-env lookups go through the same remediation report as the
    // field-name checks — a missing var must not surface as a bare
    // NoSuchElementException (gh.js:92-115 reports every missing env)
    val requiredEnvs = Seq("GITHUB_ORG", "GITHUB_REPO",
      "GITHUB_PROJECT_NAME", "GITHUB_PROJECT_BOARD_LISTS")
    val missingRequired = requiredEnvs.filter(k => env.get(k).forall(_.isEmpty))
    if (missingRequired.nonEmpty) throw new MustInitError(
      missingRequired.map(k => s"process.env['$k'] is not defined (but should be)"))
    val org = env("GITHUB_ORG")
    val projectName = env("GITHUB_PROJECT_NAME")
    val project = RequestBuilders.getProjectByName(transport, org, projectName)
      .getOrElse(throw new MustInitError(Seq(missingProjectMessage(org, projectName))))

    val fields = ApiSource.fetchTable(spark, transport,
      "/project/fields", ApiSource.fieldSchema)
    val byName: Map[String, String] = fields.select("name", "id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val optionIds = RequestBuilders.optionIds(ApiSource.fieldOptions(fields))

    // board-list columns must exist among the literal "Status" field's
    // options (gh.js:68-90 — the reference hardcodes the field name
    // "Status" for this check, independent of the configured
    // CARD_STATUS field)
    val listStatusMap = parseBoardLists(env("GITHUB_PROJECT_BOARD_LISTS"))
    val malformedPairs = malformedBoardLists(env("GITHUB_PROJECT_BOARD_LISTS"))
    val statusOptions = byName.get("Status").flatMap(optionIds.get)
      .fold(Set.empty[String])(_.keySet)
    val unlisted = listStatusMap.values.toSeq.distinct
      .filterNot(statusOptions.contains)

    val missingEnvs = FieldEnvNames.collect {
      case (envName, _) if env.get(envName).forall(_.isEmpty) => envName
    }
    val named = FieldEnvNames.collect {
      case (envName, key) if env.get(envName).exists(_.nonEmpty) =>
        (envName, key, env(envName))
    }
    val missingFields = named.collect {
      case (envName, _, name) if !byName.contains(name) => (name, envName)
    }

    val errors = Seq.newBuilder[String]
    missingEnvs.foreach { envName =>
      errors += s"process.env['$envName'] is not defined (but should be)"
    }
    malformedPairs.foreach { pair =>
      errors += s"GITHUB_PROJECT_BOARD_LISTS entry '$pair' is not a " +
        s"'TrelloList:Status' pair"
    }
    if (unlisted.nonEmpty) {
      errors += s"The following are not board list columns of '${project.title}':"
      unlisted.foreach(name => errors += s"    $name")
      errors += s"https://github.com/orgs/$org/projects/${project.number}/views/1?layout=board"
    }
    if (missingFields.nonEmpty) {
      // gh.js:160-170: quoted names padded to the longest for alignment
      val maxLen = missingFields.map(_._1.length).max
      errors += s"The following are not fields of '${project.title}':"
      missingFields.foreach { case (name, envName) =>
        val longname = s""""$name"""".padTo(maxLen + 2, ' ')
        errors += s"    $longname ('$envName')"
      }
      errors += s"https://github.com/orgs/$org/projects/${project.number}/views/1"
    }
    val errs = errors.result()
    if (errs.nonEmpty) throw new MustInitError(errs)

    EtlConfig(
      owner = org,
      repo = env("GITHUB_REPO"),
      projectNodeId = project.id,
      listStatusMap = listStatusMap,
      secondaryAdminFieldId = secondaryAdminFieldId,
      fieldIds = named.map { case (_, key, name) => key -> byName(name) }.toMap,
      optionIds = optionIds)
  }

  /** Assemble config from env + dim files and run the migration. The
    * field dimension is read once, by [[resolveConfig]]; the migration
    * writes through the field and option ids it resolved. */
  def run(
      spark: SparkSession,
      env: Map[String, String],
      transport: Transport,
      boardPath: String,
      trelloFieldsPath: Option[String] = None): EtlResult = {
    // trello-fields.json supplies the board-side custom-field ids
    // (lib/transform.js:10, README "trello-fields.json") — only
    // `secondaryAdmin` feeds the migration (fallback-owner extraction)
    val secondaryAdmin = trelloFieldsPath
      .map(p => DimFiles.asMap(DimFiles.trelloFields(spark, p)))
      .flatMap(_.get("secondaryAdmin"))
      .getOrElse("")
    val config = resolveConfig(spark, env, transport, secondaryAdmin)
    // durable ledgers — the reference persists db.json automatically
    // between runs (etl.js:14-19); with GRAFT_STATE_DIR set the CLI
    // does the same: load before, save after, so a re-run sends only
    // what is missing. The returned frames are re-loaded from the
    // saved generation (the pre-save handles point at renamed files).
    env.get("GRAFT_STATE_DIR") match {
      case Some(dir) =>
        val issuePath = s"$dir/issue_ledger"
        val fieldPath = s"$dir/field_ledger"
        val result = EtlMain.run(spark, boardPath, config, transport,
          issueLedger0 =
            Some(StateStore.load(spark, issuePath, EtlMain.issueLedgerSchema)),
          fieldLedger0 =
            Some(StateStore.load(spark, fieldPath, EtlMain.fieldLedgerSchema)))
        StateStore.save(result.issueLedger, issuePath,
          bucketCols = Seq("entity_kind", "entity_id"))
        StateStore.save(result.fieldLedger, fieldPath,
          bucketCols = Seq("entity_id", "field_id"))
        result.copy(
          issueLedger = StateStore.load(spark, issuePath, EtlMain.issueLedgerSchema),
          fieldLedger = StateStore.load(spark, fieldPath, EtlMain.fieldLedgerSchema))
      case None =>
        EtlMain.run(spark, boardPath, config, transport)
    }
  }

  /** The GitHub API transport of both CLI mains: `GITHUB_API_URL`
    * (default the public API) with the reference's headers
    * (gh.js:25-28). */
  def githubTransport(): JdkTransport = new JdkTransport(
    sys.env.getOrElse("GITHUB_API_URL", "https://api.github.com"),
    Map(
      "accept" -> "application/vnd.github.v3+json",
      "Authorization" -> s"token ${sys.env.getOrElse("GITHUB_TOKEN", "")}"))

  /** bin/etl: `etl [board.json [trello-fields.json]]` against the real
    * GitHub API (headers per gh.js:25-28). */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    try {
      val result = run(spark, sys.env.toMap, githubTransport(),
        boardPath = args.lift(0).getOrElse("./board.json"),
        trelloFieldsPath = args.lift(1))
      println(s"sent=${result.report.sent} retried=${result.report.retried} " +
        s"failed=${result.report.failed}")
    } catch {
      case e: MustInitError =>
        e.messages.foreach(System.err.println)
        sys.exit(1)
    } finally spark.stop()
  }
}
