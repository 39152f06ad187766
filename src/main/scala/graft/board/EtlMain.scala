package graft.board

import graft.sinks.HttpSink.{RateLimitedWriter, RetryPolicy, SinkReport, Transport}
import graft.sinks.{HttpSink, RequestBuilders}
import graft.state.StateStore
import graft.transforms.TrelloTransforms
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The end-to-end migration pipeline — the reference's `main(board)`
  * (etl.js:363-417) composed from the engine's verified parts. It
  * starts from a config that [[EtlCli.resolveConfig]] has already
  * validated against the project (mustInit, gh.js:48-190), field and
  * option ids included, so it reads nothing from the API itself:
  *
  *   normalize + derive (BoardPipeline ← transform.js:223-305)
  *   → issue creates, cards then items (etl.js:41-45, 173-199)
  *   → item title-drift updates (etl.js:199-218)
  *   → item closes (etl.js:219-226)
  *   → project adds, cards and items (etl.js:54-59, 228-232)
  *   → custom-field change set + writes, cards and items
  *     (etl.js:62-146, 234-330)
  *   → markdown finalize + migration bump (etl.js:150-168)
  *
  * The reference walks card-by-card with awaits; the engine batches by
  * PHASE: each phase derives its (small) change set as a DataFrame —
  * desired state diffed against the ledger with
  * [[StateStore.changeSet]] — renders concrete request rows with
  * [[RequestBuilders]], and ships them through one rate-limited writer.
  * Cards and items share a phase wherever the reference does the same
  * work for both, so a run costs six sends, not one per phase and kind.
  * Same request set, idempotent like the reference (re-running sends
  * nothing once the ledger matches), but the expensive derivation stays
  * a parallel Spark plan and only the change set is serialized.
  *
  * At board scale a run is bound by Spark jobs, not rows, so every
  * phase is planned to launch few: the derived frames, change sets and
  * ledger generations are pinned as one partition their consumers know
  * is one (`pin`), so no join, aggregate or send order over them
  * shuffles; the other side of each join between them is a broadcast
  * board-sized frame; empty ledgers are empty local relations that
  * Catalyst folds out at plan time; and title drift and closes read
  * only the pre-run ledger, so on a cold run they launch no job at all.
  * A cold migration of the 4-issue fixture board runs 22 jobs. Request
  * order inside a phase is deterministic: entity kind (every card
  * before every item), entity id, then field. Across phases, what a
  * request needs was created by an earlier phase: the project add
  * needs the issue, a field write the project item, an item's parent
  * link field its card's issue, and the finalize every item's issue.
  *
  * Ledgers replace the reference's KV store (etl.js:14-19):
  *  - issue ledger: one row per created issue
  *    (entity_kind card|item ← ISSUE_TO_CARD/ISSUE_TO_ITEM, etl.js:9-10)
  *  - field ledger: one row per (entity, field) written value — the
  *    `meta:card:` / `:project` caches (etl.js:33-39, 224-232).
  */
object EtlMain {

  /** Logical field keys → the reference's env-var field config
    * (etl.js:69-145, 234-330). */
  object Fields {
    val TrelloId = "TrelloId"          // GITHUB_TRELLO_ID_FIELD
    val TrelloType = "TrelloType"      // GITHUB_TRELLO_TYPE_FIELD
    val CardStatus = "CardStatus"      // GITHUB_TRELLO_CARD_STATUS_FIELD
    val CardType = "CardType"          // GITHUB_TRELLO_CARD_TYPE_FIELD
    val Owner = "Owner"                // GITHUB_TRELLO_OWNER_FIELD
    val FallbackOwner = "FallbackOwner" // GITHUB_TRELLO_FALLBACK_OWNER_FIELD
    val Labels = "Labels"              // GITHUB_TRELLO_LABELS_FIELD
    val TaskType = "TaskType"          // GITHUB_TRELLO_TASK_TYPE_FIELD
    val TaskParent = "TaskParent"      // GITHUB_TRELLO_TASK_PARENT_FIELD
    val TaskParentLink = "TaskParentLink" // GITHUB_TRELLO_TASK_PARENT_LINK_FIELD
    val Dash = "Dash"                  // GITHUB_TRELLO_DASH_FIELD
    val TaskAssignee = "TaskAssignee"  // GITHUB_TRELLO_TASK_ASSIGNEE_FIELD
  }

  final case class EtlConfig(
      owner: String,
      repo: String,
      projectNodeId: String,
      listStatusMap: Map[String, String],
      secondaryAdminFieldId: String,
      fieldIds: Map[String, String],
      optionIds: Map[String, Map[String, String]], // field id → option name → id
      policy: RetryPolicy = RetryPolicy()) // etl.js:6 SLEEP=3000 pacing

  final case class EtlResult(
      issueLedger: DataFrame,
      fieldLedger: DataFrame,
      report: SinkReport)

  val issueLedgerSchema: StructType = StructType(Seq(
    StructField("entity_kind", StringType),
    StructField("entity_id", StringType),
    StructField("issue_number", LongType),
    StructField("issue_node_id", StringType),
    StructField("issue_state", StringType),
    StructField("issue_title", StringType),
    StructField("html_url", StringType),
    StructField("project_item_id", StringType),
    StructField("migration", IntegerType)))

  val fieldLedgerSchema: StructType = StructType(Seq(
    StructField("entity_id", StringType),
    StructField("field_id", StringType),
    StructField("value", StringType)))

  /** The issue ledger's key: every phase sends and folds acks by it. */
  private val EntityKey = Seq("entity_kind", "entity_id")

  /** An empty `LocalRelation`, not an empty RDD: Catalyst folds a
    * join, anti-join or union against it at plan time, so a cold run's
    * first create, change set and merge launch no job for the ledger. */
  def emptyLedger(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), issueLedgerSchema)

  def emptyFieldLedger(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), fieldLedgerSchema)

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Materialize `df` as one pinned partition that later plans know is
    * one partition. A checkpoint of a plan that AQE ran reports unknown
    * partitioning, so every join, aggregate and sort over it would
    * shuffle it again, each shuffle a job of its own. Re-pinning the
    * pinned rows through a narrow `coalesce(1)`, a plan AQE leaves
    * alone, keeps `SinglePartition`; it is lazy, so it costs no job. */
  private def pin(df: DataFrame): DataFrame =
    df.coalesce(1).localCheckpoint(true).coalesce(1).localCheckpoint(false)

  def run(
      spark: SparkSession,
      boardPath: String,
      config: EtlConfig,
      transport: Transport,
      issueLedger0: Option[DataFrame] = None,
      fieldLedger0: Option[DataFrame] = None,
      sleeper: Long => Unit = Thread.sleep): EtlResult = {
    import spark.implicits._
    val writer = new RateLimitedWriter(transport, config.policy, sleeper)
    var totalSent = 0; var totalRetried = 0; var totalFailed = 0
    // one ordered send per phase: the key tuple and response of each
    // acknowledged (2xx) request
    def send(reqs: DataFrame, keyCols: Seq[String] = EntityKey)
        : Seq[(Seq[String], HttpSink.HttpResponse)] = {
      val (acked, r) = HttpSink.sendPhase(writer, reqs, keyCols)
      totalSent += r.sent; totalRetried += r.retried; totalFailed += r.failed
      acked
    }

    // ---- normalize + derive
    val board = BoardPipeline.readBoard(spark, boardPath)
    val n = BoardPipeline.normalized(board)
    // pinned (not cached): a cache keeps the whole nested-board
    // derivation inside every downstream phase's logical plan, and each
    // phase's change-set and ledger queries re-analyze that tree —
    // measured ~90 s of pure driver-side Catalyst/codegen per run on
    // the fixture board. The checkpoint truncates the plan to a scan
    // over the derived rows; phases analyze small trees.
    val cards = pin(BoardPipeline.customizeCards(
      n, config.listStatusMap, config.secondaryAdminFieldId))
    // only the items of active cards become issues: the reference
    // skips a closed card or a card in an unmapped list together with
    // its checklist (etl.js:26-29, :148-151). The join on card_id both
    // restricts the items and carries the parent-card fields the item
    // field phase writes, so no later phase joins the cards again (each
    // broadcast of the cards is a job of its own)
    val items = pin(BoardPipeline.customizeItems(n)
      .join(broadcast(cards.select(col("card_id"), col("name").as("card_name"),
        col("owner").as("card_owner"), col("fallback_owner").as("card_fallback"))),
        Seq("card_id")))

    // the ledger as this run found it: title drift and closes read it,
    // since an issue this run creates carries its title and an open,
    // incomplete item (customizeItems drops complete ones)
    val ledger0 = issueLedger0.getOrElse(emptyLedger(spark))
    var ledger = ledger0
    var fieldLedger = fieldLedger0.getOrElse(emptyFieldLedger(spark))

    def ledgerFor(kind: String): DataFrame =
      ledger.filter(col("entity_kind") === kind)

    // ---- fold acknowledged (entity_kind, entity_id, value) rows into
    //      one ledger column: acked entities take the new value, the
    //      rest keep theirs. Called only when a phase acked something;
    //      the ledger is change-set-sized, so one partition keeps each
    //      lineage cut a single-task job (the suite ran 4× faster)
    def patchLedger(column: String, acked: DataFrame): Unit =
      ledger = pin(ledger
        .join(broadcast(acked.toDF(EntityKey :+ "__acked": _*)), EntityKey, "left")
        .withColumn(column, coalesce(col("__acked"), col(column)))
        .drop("__acked"))

    // ---- phase: create missing issues for a desired frame
    //      (entity_kind, entity_id, title, issue_body, assignees); the
    //      send's key order puts every card before every item
    def createIssues(desired: DataFrame): Unit = {
      val missing = desired.join(ledger, EntityKey, "left_anti")
      val resps = send(RequestBuilders.createIssue(missing, config.owner, config.repo))
      if (resps.nonEmpty) {
        val created = resps.map { case (keys, resp) =>
          val j = mapper.readTree(resp.body)
          (keys(0), keys(1), j.at("/number").asLong(), j.at("/node_id").asText(),
            j.at("/state").asText("open"), j.at("/title").asText(),
            j.at("/html_url").asText(), null: String, StateStore.MCreated)
        }.toDF(issueLedgerSchema.fieldNames.toIndexedSeq: _*)
        // one partition: the next phases sort and join it unshuffled
        ledger = ledger.unionByName(created).coalesce(1)
      }
    }

    // ---- phase: add ledger rows without a project item to the project
    def addToProject(): Unit = {
      val missing = ledger.filter(col("project_item_id").isNull)
        .select(col("entity_kind"), col("entity_id"), col("issue_node_id"))
      val resps = send(RequestBuilders.addProjectItem(missing, config.projectNodeId))
      if (resps.nonEmpty)
        patchLedger("project_item_id", resps.map { case (keys, resp) =>
          (keys(0), keys(1), mapper.readTree(resp.body)
            .at("/data/addProjectNextItem/projectNextItem/id").asText())
        }.toDF())
    }

    // ---- phase: write changed (entity, field, value) rows. The field
    //      ledger keys on entity_id alone (Trello ids are unique across
    //      cards and items), so the kind comes from the issue ledger
    def setFields(desired: DataFrame): Unit = {
      // pinned once: the send and the ledger merge both read the change
      // set, and re-deriving it runs the per-field union again
      val changes = pin(StateStore.changeSet(desired, fieldLedger,
        Seq("entity_id", "field_id"), Seq("value")))
      val withNode = changes
        .join(broadcast(ledger.select(col("entity_kind"), col("entity_id"),
          col("project_item_id").as("item_node_id"))), Seq("entity_id"))
      val reqs = RequestBuilders.setFieldValue(withNode, config.optionIds,
        config.projectNodeId)
      val resps = send(reqs, EntityKey :+ "field_id")
      // record ONLY the writes the API acknowledged (2xx): a failed or
      // join-dropped row must stay out of the ledger so a resume
      // retries it instead of treating it as applied. A phase that
      // acknowledged nothing keeps the ledger untouched (no merge +
      // checkpoint job).
      if (resps.nonEmpty) {
        val acked = resps.map { case (keys, _) => (keys(1), keys(2)) }
          .toDF("entity_id", "field_id")
        fieldLedger = pin(StateStore.merge(fieldLedger,
          changes.join(broadcast(acked), Seq("entity_id", "field_id"))
            .select("entity_id", "field_id", "value"),
          Seq("entity_id", "field_id")))
      }
    }

    // ---- issue creates: cards (etl.js:41-45), then items (etl.js:173-199)
    val cardDesired = cards.select(
      lit("card").as("entity_kind"),
      col("card_id").as("entity_id"),
      col("name").as("title"),
      TrelloTransforms.cardIssueBody(col("url"), col("desc")).as("issue_body"),
      col("member_usernames").as("assignees"))
    val itemDesired = items.select(
      lit("item").as("entity_kind"),
      col("item_id").as("entity_id"),
      col("title"),
      col("desc").as("issue_body"),
      when(col("assignee") === "!Assigned", array().cast("array<string>"))
        .otherwise(array(col("assignee"))).as("assignees"))
    createIssues(cardDesired.unionByName(itemDesired))

    // ---- item title-drift updates, then close issues whose Trello item
    //      completed after import (etl.js:199-226). Both check only the
    //      pre-run ledger, so on a cold run both fold to an empty
    //      relation and send without a job
    val items0 = ledger0.filter(col("entity_kind") === "item")
    val titleDrift = itemDesired
      .join(items0.select(col("entity_kind"), col("entity_id"),
        col("issue_number"), col("issue_title")), EntityKey)
      .filter(col("title") =!= col("issue_title"))
    val driftResps = send(RequestBuilders.updateIssue(
      titleDrift.select("entity_kind", "entity_id", "issue_number", "title", "issue_body"),
      config.owner, config.repo))
    if (driftResps.nonEmpty)
      patchLedger("issue_title", titleDrift
        .join(driftResps.map { case (keys, _) => (keys(0), keys(1)) }
          .toDF(EntityKey: _*), EntityKey)
        .select("entity_kind", "entity_id", "title"))

    val toClose = n.checkItems.filter(col("state") === "complete")
      .select(col("id").as("entity_id"))
      .join(items0.filter(col("issue_state") === "open")
        .select(col("entity_kind"), col("entity_id"), col("issue_number")), Seq("entity_id"))
      .withColumn("state", lit("closed"))
    val closeResps = send(RequestBuilders.updateIssue(toClose, config.owner, config.repo))
    if (closeResps.nonEmpty)
      patchLedger("issue_state", closeResps.map { case (keys, _) =>
        (keys(0), keys(1), "closed") }.toDF())

    // ---- project adds (etl.js:54-59, 228-232)
    addToProject()

    // ---- custom fields of cards (etl.js:62-146) and items
    //      (etl.js:234-330); conditional fields mirror the reference's
    //      truthiness guards (labels only when present). Item parent
    //      fields join the card ledger for the parent issue url
    //      (card._issue, etl.js:52). Each kind's rows come from one pass
    //      over its frame: a (field_id, value) struct per field, null
    //      where the field's guard fails, exploded
    val itemsWithCard = items
      .join(broadcast(ledgerFor("card").select(col("entity_id").as("card_id"),
        col("html_url").as("card_issue_url"))), Seq("card_id"), "left")
    def fieldRows(rows: DataFrame, idCol: String,
        fields: Seq[(String, Column, Column)]): DataFrame =
      rows.select(col(idCol).as("entity_id"), explode(filter(array(fields.map {
        case (key, value, guard) =>
          when(guard, struct(lit(config.fieldIds(key)).as("field_id"), value.as("value")))
      }: _*), _.isNotNull)).as("f"))
        .select(col("entity_id"), col("f.field_id"), col("f.value"))
    val always = lit(true)
    val cardFields = fieldRows(cards, "card_id", Seq(
      (Fields.TrelloId, col("card_id"), always),
      (Fields.TrelloType, lit("Card"), always),
      (Fields.CardStatus, col("card_status"), always),
      (Fields.CardType, col("card_type"), always),
      (Fields.Owner, col("owner"), always),
      (Fields.FallbackOwner, col("fallback_owner"), always),
      // only when the card has real labels (etl.js:131-137 guards on
      // length; the "!Label" default-fill is presentation-only)
      (Fields.Labels, element_at(col("label_names"), 1),
        element_at(col("label_names"), 1) =!= "!Label")))
    val itemFields = fieldRows(itemsWithCard, "item_id", Seq(
      (Fields.TrelloId, col("item_id"), always),
      (Fields.TaskParent, col("card_name"), always),
      (Fields.TaskParentLink, col("card_issue_url"), always),
      (Fields.TrelloType, lit("Task"), always),
      (Fields.TaskType, col("task_type"), always),
      (Fields.Owner, col("card_owner"), always),
      (Fields.FallbackOwner, col("card_fallback"), always),
      // numeric normalize then stringify (gh.js:487-494 parseFloat →
      // toString; Java renders 1.0 where JS renders 1 — documented)
      (Fields.Dash, col("amount").cast("double").cast("string"), col("amount").isNotNull),
      (Fields.TaskAssignee, col("assignee"), col("assignee") =!= "!Assigned")))
    setFields(cardFields.unionByName(itemFields))

    // ---- markdown finalize (etl.js:150-168): cards still below M_LISTS
    //      whose every active item has an issue get the full
    //      checklist-rendered body, then the bump. A card with an item
    //      whose create failed waits: its body would keep an empty line
    //      for that item, and a card at M_LISTS is never rendered again
    val pending = ledgerFor("card").filter(col("migration") < StateStore.MLists)
      .select(col("entity_kind"), col("entity_id"), col("issue_number"))
    val issueState = broadcast(ledgerFor("item").select(col("entity_id").as("item_id"),
      col("issue_number"), col("issue_state")))
    val rendered = BoardPipeline.renderIssueMarkdown(cards, items, issueState)
      .filter(!col("unissued"))
      .select(col("card_id").as("entity_id"), col("body").as("issue_body"))
    val finalize = broadcast(pending).join(rendered, Seq("entity_id"))
    val mdResps = send(RequestBuilders.updateIssue(finalize, config.owner, config.repo))
    // every pending card sits below M_LISTS, so an acked one bumps to it
    if (mdResps.nonEmpty)
      patchLedger("migration", mdResps.map { case (keys, _) =>
        (keys(0), keys(1), StateStore.MLists) }.toDF())

    EtlResult(ledger, fieldLedger, SinkReport(totalSent, totalRetried, totalFailed))
  }
}
