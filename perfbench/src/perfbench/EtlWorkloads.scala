package perfbench

import graft.board.{BoardPipeline, EtlCli, EtlMain}
import graft.sinks.HttpSink.{SinkReport, Transport}
import graft.sinks.JdkTransport
import graft.state.StateStore
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import perfbench.BenchMain.{OpOutcome, Opts, Workload, check, median}
import scala.collection.mutable
import scala.util.Random

/** The migration workload. Each sync runs the way `EtlCli.run` does
  * with a state directory: `resolveConfig` → `StateStore.load` of both
  * ledgers → `EtlMain.run` → `StateStore.save` of both ledgers, except
  * that the writer's sleeper records the pacing and backoff it asks
  * for instead of sleeping. */
object EtlWorkloads {

  val Org = "bench-org"
  val Repo = "bench-repo"
  val Project = "Trello Migration"
  private val FieldNames: Seq[(String, String, String)] = Seq(
    // env var, display name, remote field id
    ("GITHUB_TRELLO_DASH_FIELD_NAME", "Dash Bounty", "F_DASH"),
    ("GITHUB_TRELLO_OWNER_FIELD_NAME", "Owner", "F_OWNER"),
    ("GITHUB_TRELLO_FALLBACK_OWNER_FIELD_NAME", "Fallback Owner", "F_FALLBACK"),
    ("GITHUB_TRELLO_ID_FIELD_NAME", "Trello ID", "F_ID"),
    ("GITHUB_TRELLO_TYPE_FIELD_NAME", "Trello Type", "F_TYPE"),
    ("GITHUB_TRELLO_CARD_STATUS_FIELD_NAME", "Status", "F_STATUS"),
    ("GITHUB_TRELLO_CARD_TYPE_FIELD_NAME", "Trello Board Column", "F_CARDTYPE"),
    ("GITHUB_TRELLO_LABELS_FIELD_NAME", "Trello Labels", "F_LABELS"),
    ("GITHUB_TRELLO_TASK_PARENT_FIELD_NAME", "Parent", "F_PARENT"),
    ("GITHUB_TRELLO_TASK_PARENT_LINK_FIELD_NAME", "Parent Link", "F_PARENTLINK"),
    ("GITHUB_TRELLO_TASK_TYPE_FIELD_NAME", "Task Type", "F_TASKTYPE"),
    ("GITHUB_TRELLO_TASK_ASSIGNEE_FIELD_NAME", "Trello Assignee", "F_ASSIGNEE"))
  val IdField = "F_ID"
  val DashField = "F_DASH"

  val env: Map[String, String] = Map(
    "GITHUB_ORG" -> Org, "GITHUB_REPO" -> Repo, "GITHUB_PROJECT_NAME" -> Project,
    "GITHUB_PROJECT_BOARD_LISTS" -> BoardGen.BoardLists) ++
    FieldNames.map { case (e, name, _) => e -> name }

  val fieldsJson: String = FieldNames.map { case (_, name, id) =>
    val settings =
      if (id == "F_STATUS")
        "\"{\\\"options\\\":[" + Seq("Pending", "Considering", "Completed").map(o =>
          s"""{\\"id\\":\\"OPT_${o.toUpperCase}\\",\\"name\\":\\"$o\\"}""").mkString(",") + "]}\""
      else "null"
    s"""{"id":"$id","name":"$name","settings":$settings}"""
  }.mkString("[", ",", "]")

  /** `etl_migrate`: each operation migrates the seeded board into an
    * empty stub with empty ledgers. A fixed, seeded set of mutations is
    * answered once with a secondary-rate-limit 403. A run times exactly
    * one migration, the first in its JVM: the cold start a `bin/etl`
    * user pays on every invocation. Later migrations in the same JVM
    * run about twice as fast (~15 s, then ~7 s, then ~5.6 s each from
    * the fourth), so a run that timed more than one would mix the two. */
  final class Migrate(spark: SparkSession, o: Opts) extends Workload {
    private val shape = BoardGen.Shape(active = 125, closed = 25, unmapped = 25,
      itemsPerCard = 4, completePerCard = 1)
    private val work = s"${o.work}/etl"
    private var stub: GithubStub = _
    private var transport: Transport = _
    private var traced: Option[TracedTransport] = None
    private val layer = mutable.Map.empty[String, mutable.Buffer[Double]]
    private def record(k: String, v: Double): Unit =
      layer.getOrElseUpdate(k, mutable.Buffer.empty) += v
    private var board: BoardGen.Board = _
    private var boardPath = ""
    private var limited: Set[Int] = Set.empty
    override def roundSize: Int = 1
    override def maxRounds: Int = 1

    override def setup(rep: Int): Unit = {
      board = new BoardGen.Gen(o.seed).board(shape)
      Files.createDirectories(Paths.get(work))
      boardPath = s"$work/board.json"
      Files.writeString(Paths.get(boardPath), BoardGen.toJson(board))
      // three mutations, among the issue creates the board needs
      limited = new Random(o.seed ^ 0x5eedL)
        .shuffle((1 until board.expectedIds.size by 2).toList).take(3).toSet
      if (stub != null) stub.stop()
      stub = new GithubStub(Org, Repo, Project, fieldsJson, limited)
      val jdk = new JdkTransport(stub.url)
      traced = if (o.trace) Some(new TracedTransport(jdk)) else None
      transport = traced.getOrElse(jdk)
      EtlCli.resolveConfig(spark, env, transport, BoardGen.SecondaryAdminField)
    }

    override def op(i: Int): OpOutcome = {
      val dir = s"$work/state"
      val report = sync(dir)
      val r = BenchMain.untimed(verify(report, i))
      BenchMain.sampleHeap()
      r
    }

    /** One sync of the board with the ledgers under `stateDir`. */
    private def sync(stateDir: String): SinkReport = {
      val tr = traced
      val (r0, rNs0, m0, sNs0, b0) = tr.fold((0L, 0L, 0L, 0L, 0L))(t =>
        (t.reads, t.readNs, t.mutations, t.sendNs, t.requestBytes))
      val cfg = Trace.span("sources.resolve_config")(
        EtlCli.resolveConfig(spark, env, transport, BoardGen.SecondaryAdminField))
      val issuePath = s"$stateDir/issue_ledger"
      val fieldPath = s"$stateDir/field_ledger"
      val (issues, fields) = Trace.span("state.load")((
        StateStore.load(spark, issuePath, EtlMain.issueLedgerSchema),
        StateStore.load(spark, fieldPath, EtlMain.fieldLedgerSchema)))
      var paced = 0L
      val tRun = System.nanoTime()
      val (rNsRun, sNsRun) = tr.fold((0L, 0L))(t => (t.readNs, t.sendNs))
      val res = Trace.span("board.run")(EtlMain.run(spark, boardPath, cfg, transport,
        issueLedger0 = Some(issues), fieldLedger0 = Some(fields),
        sleeper = (ms: Long) => paced += ms))
      val runNs = System.nanoTime() - tRun
      val tSave = System.nanoTime()
      Trace.span("state.save") {
        StateStore.save(res.issueLedger, issuePath, bucketCols = Seq("entity_kind", "entity_id"))
        StateStore.save(res.fieldLedger, fieldPath, bucketCols = Seq("entity_id", "field_id"))
      }
      tr.foreach { t =>
        record("state.save_ms", (System.nanoTime() - tSave) / 1e6)
        record("state.load_ms", Trace.ms("state.load", Trace.op))
        record("board.run_ms", runNs / 1e6)
        record("board.spark_ms",
          (runNs - (t.readNs - rNsRun) - (t.sendNs - sNsRun)) / 1e6)
        record("sinks.mutations", (t.mutations - m0).toDouble)
        record("sinks.send_ms", (t.sendNs - sNs0) / 1e6)
        record("sinks.request_kb", (t.requestBytes - b0) / 1024.0)
        record("sinks.retries", res.report.retried.toDouble)
        record("sinks.paced_s", paced / 1000.0)
        record("sources.get_requests", (t.reads - r0).toDouble)
        record("sources.get_ms", (t.readNs - rNs0) / 1e6)
        val (bytes, files) = BenchMain.du(stateDir)
        record("state.ledger_kb", bytes / 1024.0)
        record("state.files", files.toDouble)
      }
      res.report
    }

    /** Times the `transforms` layer on its own: both derived frames of
      * the board, fully produced. */
    override def traceAfter(i: Int): Unit = {
      val t = System.nanoTime()
      Trace.span("transforms.derive") {
        val n = BoardPipeline.normalized(BoardPipeline.readBoard(spark, boardPath))
        val listMap = EtlCli.parseBoardLists(BoardGen.BoardLists)
        BoardPipeline.customizeCards(n, listMap, BoardGen.SecondaryAdminField)
          .write.format("noop").mode("overwrite").save()
        BoardPipeline.customizeItems(n).write.format("noop").mode("overwrite").save()
      }
      record("board.derive_ms", (System.nanoTime() - t) / 1e6)
    }

    /** Project items → (entity id from the TrelloId field, issue). */
    private def remoteEntities: Seq[(String, GithubStub#Issue, String)] =
      stub.synchronized {
        stub.projectItems.toSeq.flatMap { case (_, items) => items }.flatMap { item =>
          stub.fieldValues.get((item, IdField)).map(id =>
            (id, stub.issueOfItem(item).orNull, item))
        }
      }

    override def layerMetrics: Map[String, Double] =
      layer.map { case (k, vs) => k -> median(vs.toSeq) }.toMap

    override def close(): Unit = if (stub != null) stub.stop()

    private def verify(r: SinkReport, i: Int): OpOutcome = stub.synchronized {
      val b = board
      val remote = remoteEntities
      val expected = b.expectedIds
      val counts = remote.groupBy(_._1).map { case (k, v) => k -> v.size }
      val missing = expected -- counts.keySet
      check(missing.isEmpty, s"op $i: ${missing.size} entities not on GitHub, e.g. ${missing.headOption}")
      check(counts.forall(_._2 == 1), s"op $i: entities created twice: ${counts.filter(_._2 > 1).keys.take(3)}")
      check((counts.keySet -- expected).isEmpty,
        s"op $i: TrelloId set on unexpected entities ${(counts.keySet -- expected).take(3)}")
      check(stub.issues.values.forall(is => stub.projectItems.get(is.nodeId).exists(_.size == 1)),
        s"op $i: an issue is not in the project exactly once")
      val names = b.cards.flatMap(c => (c.id -> c.name) +:
        c.checklists.flatMap(_.items.map(it => it.id -> BoardGen.itemTitle(it.name)))).toMap
      remote.foreach { case (id, issue, _) =>
        check(issue != null && names.get(id).contains(issue.title),
          s"op $i: issue for $id titled ${Option(issue).map(_.title)}, want ${names.get(id)}")
      }
      val dash = remote.flatMap { case (id, _, item) =>
        stub.fieldValues.get((item, DashField)).map(v => id -> v)
      }.toMap
      val want = b.bounties
      check(dash.keySet == want.keySet,
        s"op $i: Dash set on ${dash.size} items, ${want.size} bounty items")
      check(dash.forall { case (id, v) => want.get(id).exists(a => v.toDouble == a) },
        s"op $i: a Dash value differs from its bounty")
      check(r.sent == stub.mutationsApplied,
        s"op $i: report.sent ${r.sent} but ${stub.mutationsApplied} acked")
      check(r.retried == limited.size && stub.rateLimitedAnswers == limited.size,
        s"op $i: ${r.retried} retries for ${limited.size} rate-limited answers")
      check(r.failed == 0, s"op $i: ${r.failed} requests failed")
      // Issues with no TrelloId: the known fault creates them for the
      // open items of closed and unmapped cards (the reference skips
      // those cards). Anything else without a TrelloId is an error.
      val linked = remote.flatMap(r => Option(r._2)).map(_.number).toSet
      val orphanTitles = stub.issues.values.filterNot(is => linked(is.number))
        .map(_.title).toSeq.sorted
      val inactiveTitles = b.openItems(b.inactiveCards).map(it => BoardGen.itemTitle(it.name)).sorted
      val fault = orphanTitles.nonEmpty && orphanTitles == inactiveTitles
      check(orphanTitles.isEmpty || fault,
        s"op $i: ${orphanTitles.size} issues without a TrelloId, e.g. ${orphanTitles.headOption}")
      OpOutcome(expected.size, failed = fault || stub.unknownRoutes > 0)
    }
  }
}
