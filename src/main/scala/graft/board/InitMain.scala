package graft.board

import graft.GraftSession
import graft.sinks.HttpSink.Transport
import graft.sinks.RequestBuilders
import graft.sinks.RequestBuilders.ProjectInfo
import org.apache.spark.sql.SparkSession

/** The one-time bootstrap flow — the reference's `utils/init.js:8-31`:
  *
  *   0. `await GH.mustInit()` (init.js:9): full env/field/board-list
  *      validation BEFORE any bootstrap — a config error aborts the
  *      flow without touching the repo. The spark-full [[run]] overload
  *      reproduces this via [[EtlCli.resolveConfig]]; the
  *      transport-only overload is the repo+project core for callers
  *      that have already validated.
  *   1. ensure the repo exists (`GH.repos.getOrCreate`, 404 → create);
  *   2. look the project up by name — beta Projects CANNOT be created
  *      through this API path, so a missing project produces the
  *      reference's human-remediation message instead of a create;
  *   3. the reference then calls `GH.projects.addBoardColumn({ name:
  *      "Pretzels" })` — a classic-Projects API that is commented out
  *      as broken in the reference itself (gh.js:370-395, "the REST API
  *      docs say this should work ... it doesn't"). DELIBERATE
  *      DEVIATION: the engine omits the dead call rather than reproduce
  *      a guaranteed failure; SURVEY §7.3 records inherited quirks and
  *      this is the documented exception.
  *
  * Pure result types instead of `process.exit(1)` so the sequence is
  * testable; [[main]] applies the exit. */
object InitMain {

  sealed trait InitResult
  /** Repo ensured + project found: ready for [[EtlCli]]. */
  final case class Ready(repoJson: String, project: ProjectInfo) extends InitResult
  /** Project missing: carry the reference's remediation text
    * (init.js:18-21). */
  final case class MissingProject(message: String) extends InitResult
  /** mustInit validation failed (missing env, malformed board lists,
    * unknown field names): init.js dies inside GH.mustInit before the
    * repo bootstrap runs, so no repo is created on an invalid config. */
  final case class Invalid(messages: Seq[String]) extends InitResult

  /** Full init.js sequence: mustInit validation first, then repo +
    * project ensure. The validation itself already looks the project up
    * and resolves every configured field name against it. */
  def run(
      spark: SparkSession,
      env: Map[String, String],
      transport: Transport): InitResult =
    try {
      EtlCli.resolveConfig(spark, env, transport, secondaryAdminFieldId = "")
      run(transport, env("GITHUB_ORG"), env("GITHUB_REPO"),
        env("GITHUB_PROJECT_NAME"))
    } catch {
      case e: EtlCli.MustInitError => Invalid(e.messages)
    }

  def run(
      transport: Transport,
      org: String,
      repoName: String,
      projectName: String): InitResult = {
    val repoJson = RequestBuilders.getOrCreateRepo(transport, org, repoName)
    RequestBuilders.getProjectByName(transport, org, projectName) match {
      case Some(project) => Ready(repoJson, project)
      case None => MissingProject(EtlCli.missingProjectMessage(org, projectName))
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .getOrCreate()
    try run(spark, sys.env.toMap, EtlCli.githubTransport()) match {
      case Ready(_, project) =>
        println(s"Project Node ID: ${project.id}")
      case MissingProject(message) =>
        System.err.println(message)
        sys.exit(1)
      case Invalid(messages) =>
        messages.foreach(System.err.println)
        sys.exit(1)
    } finally spark.stop()
  }
}
