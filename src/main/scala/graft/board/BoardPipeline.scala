package graft.board

import graft.transforms.TrelloTransforms
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The board pipeline: normalize → derive → report/render, mirroring
  * the reference end-to-end (SURVEY.md §3) as lazy DataFrame plans.
  *
  *  - [[normalized]] replaces `trelloBoardUpgrade` (transform.js:223-255):
  *    instead of mutating a document, explode to normalized tables;
  *    old-format (nested) and new-format (top-level) checklists unify.
  *  - [[customizeCards]]/[[customizeItems]] replace `customizeTrelloCard`
  *    (transform.js:257-305): the `_`-prefixed derived columns become
  *    real columns from dimension lookups + scalar transforms.
  *  - [[quickview]] replaces utils/board-quickview.js:48-204 (A3).
  *  - [[renderIssueMarkdown]] replaces mapCardToIssueMkdn
  *    (transform.js:127-170, A1/A2) with order-stable string aggs.
  *
  * Dimensions (lists/members/customFields) are tiny → literal maps or
  * `broadcast()`; cards/items are the scaling axis and never collect
  * to the driver.
  */
object BoardPipeline {

  def readBoard(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").schema(BoardModel.board).json(path)

  final case class Normalized(
      cards: DataFrame, checklists: DataFrame, checkItems: DataFrame,
      lists: DataFrame, labels: DataFrame, members: DataFrame,
      customFields: DataFrame)

  /** Explode the document into normalized tables. Checklists come from
    * the top level when present (new format) and from inside cards
    * otherwise (old format) — the J2 "upgrade" as a union, not a loop. */
  def normalized(board: DataFrame): Normalized = {
    def table(field: String): DataFrame =
      board.select(explode(col(field)).as("x")).select("x.*")

    val cards = table("cards")
    val topLevel = board.filter(col("checklists").isNotNull)
      .select(explode(col("checklists")).as("x")).select("x.*")
    val nested = cards.filter(col("checklists").isNotNull)
      .select(explode(col("checklists")).as("x")).select("x.*")
    val checklists = topLevel.unionByName(nested)
    val checkItems = checklists
      .select(col("id").as("checklist_id"), col("idCard").as("card_id"),
        explode(col("checkItems")).as("i"))
      .select(col("checklist_id"), col("card_id"), col("i.*"))
    Normalized(
      cards = cards.drop("checklists"),
      checklists = checklists.drop("checkItems"),
      checkItems = checkItems,
      lists = table("lists"),
      labels = table("labels"),
      members = table("members"),
      customFields = table("customFields"))
  }

  private val resolveOwnersUdf = udf {
    (memberNames: Seq[String], rawFallback: String, allNames: Seq[String]) =>
      val (o, f) = TrelloTransforms.resolveOwners(
        Option(memberNames).getOrElse(Seq.empty).filter(_ != null),
        Option(rawFallback),
        Option(allNames).getOrElse(Seq.empty))
      (o.orNull, f.orNull)
  }

  private val parseItemUdf = udf { (name: String) =>
    val p = TrelloTransforms.parseChecklistItem(Option(name).getOrElse(""))
    (p.title, p.desc, p.amount.orNull)
  }

  /** [[TrelloTransforms.taskType]] as builtin expressions (r13 verdict
    * item 6 — one fewer UDF): Java's replaceFirst("\\s*Tasks?\\s*", "")
    * becomes ONE anchored reluctant-prefix regex — `(?s)` so a
    * multiline name behaves exactly like the \s-crossing replaceFirst,
    * `(.*?)` keeping the match leftmost — and a no-match passes the
    * name through unchanged, same as replaceFirst. Null coalesces to
    * "" first, matching the UDF's Option(n).getOrElse(""). */
  private def taskTypeCol(n: Column): Column =
    concat(
      regexp_replace(coalesce(n, lit("")),
        "(?s)^(.*?)\\s*Tasks?\\s*(.*)$", "$1$2"),
      lit(" Task"))

  /** Card derivation (P3/P4/P8/P9 + J1/J3/J7): active cards with
    * card_type, card_status, custom field names, sorted default-filled
    * labels, owner, fallback_owner.
    *
    * The member, list and custom-field dimensions are the reference's
    * members/lists/customFields json, inherently tiny: one collect
    * turns them into literal maps, so every lookup is a per-row
    * `element_at` (a missing key gives null) and the card plan has no
    * join. J7's first-match semantics need the *card order* of
    * `idMembers` preserved, which `transform()` over the array gives
    * for free. */
  def customizeCards(
      n: Normalized,
      listStatusMap: Map[String, String],
      secondaryAdminFieldId: String): DataFrame = {
    def dim(kind: String, df: DataFrame, value: String): DataFrame =
      df.select(lit(kind).as("kind"), col("id"), col(value).as("value"))
    val dims = dim("member", n.members, "username")
      .unionByName(dim("list", n.lists, "name"))
      .unionByName(dim("field", n.customFields, "name"))
      .filter(col("id").isNotNull)
      .collect()
      .groupMap(_.getString(0))(r => r.getString(1) -> r.getString(2))
    def mapOf(kind: String): Map[String, String] = dims.getOrElse(kind, Array.empty).toMap
    val members = mapOf("member")
    val boardUsernamesCol = array(members.values.toSeq.sorted.map(lit): _*)

    n.cards
      .filter(!coalesce(col("closed"), lit(false))) // P3: skip closed
      .withColumn("card_type", element_at(typedLit(mapOf("list")), col("idList")))
      .withColumn("card_status", element_at(typedLit(listStatusMap), col("card_type")))
      .filter(col("card_status").isNotNull) // P4: unmapped list → inactive
      .withColumn("member_usernames",
        filter(transform(col("idMembers"), m => element_at(typedLit(members), m)),
          x => x.isNotNull))
      .withColumn("label_names_raw",
        array_sort(transform(col("labels"), l => l.getField("name")))) // O2
      .withColumn("label_names",
        when(size(col("label_names_raw")) === 0, array(lit("!Label"))) // P8
          .otherwise(col("label_names_raw")))
      .withColumn("raw_fallback", // P7: secondaryAdmin custom field text
        // try_element_at: a card without the field yields an empty
        // filtered array → NULL, matching the reference's
        // `find(...)?.value?.text` (transform.js optional chain); plain
        // element_at throws under ANSI mode on the empty array
        try_element_at(
          filter(col("customFieldItems"),
            f => f.getField("idCustomField") === lit(secondaryAdminFieldId)), lit(1))
          .getField("value").getField("text"))
      .withColumn("owners",
        resolveOwnersUdf(col("member_usernames"), col("raw_fallback"), boardUsernamesCol))
      .withColumn("owner", coalesce(col("owners._1"), lit("!Owner")))
      .withColumn("fallback_owner", coalesce(col("owners._2"), lit("!Fallback")))
      .withColumn("custom_field_names",
        filter(transform(col("customFieldItems"),
          f => element_at(typedLit(mapOf("field")), f.getField("idCustomField"))),
          x => x.isNotNull))
      .select(col("id").as("card_id"), col("name"), col("desc"), col("url"),
        col("card_type"), col("card_status"), col("label_names"),
        coalesce(col("custom_field_names"), array().cast("array<string>"))
          .as("custom_field_names"),
        col("member_usernames"), col("owner"), col("fallback_owner"))
  }

  /** Item derivation (P5 + §2.8 parse + task type + J4 assignee). */
  def customizeItems(n: Normalized): DataFrame = {
    val memberDim = n.members
      .select(col("id").as("idMember"), col("username").as("assignee_name"))
    n.checkItems
      .filter(col("state") =!= "complete") // P5
      .join(broadcast(n.checklists.select(col("id").as("checklist_id"),
        col("name").as("checklist_name"), col("pos").as("checklist_pos"))),
        Seq("checklist_id"), "left")
      .withColumn("parsed", parseItemUdf(col("name")))
      .join(broadcast(memberDim), Seq("idMember"), "left")
      .select(
        col("id").as("item_id"), col("checklist_id"), col("card_id"),
        col("checklist_name"), col("checklist_pos"),
        col("state"), col("pos"),
        col("parsed._1").as("title"), col("parsed._2").as("desc"),
        col("parsed._3").cast("decimal(12,4)").as("amount"),
        taskTypeCol(col("checklist_name")).as("task_type"),
        when(col("idMember").isNull, lit("!Assigned")) // P8 default
          .otherwise(col("assignee_name")).as("assignee"))
  }

  /** The quickview distinct-set report (A3): one row per category with
    * the sorted distinct values seen on active cards/items. */
  def quickview(cards: DataFrame, items: DataFrame): DataFrame = {
    def one(df: DataFrame, category: String, value: Column): DataFrame =
      df.select(lit(category).as("category"), value.as("value"))
        .filter(col("value").isNotNull)
    one(cards, "Columns", col("card_type"))
      .unionByName(cards.select(lit("Labels").as("category"),
        explode(col("label_names")).as("value")))
      .unionByName(cards.select(lit("Custom Fields").as("category"),
        explode(col("custom_field_names")).as("value")))
      .unionByName(one(cards, "Members", col("owner")))
      .unionByName(one(items, "Task Types", col("task_type")))
      .unionByName(one(items, "Assignees", col("assignee")))
      .groupBy("category")
      .agg(array_sort(collect_set(col("value"))).as("values"))
      .orderBy("category")
  }

  /** The quickview table header (utils/board-quickview.js:57-59). */
  val QuickviewHeader: String =
    "| Trello ID | Issue Type | Card Type | Task Type | Owner | Owner 2 | Assignee | Labels |"

  /** The quickview per-row markdown table (utils/board-quickview.js:
    * 137-188): one `| a|b|...|h |` line per active card and per active
    * checklist item, cards leading their items, items in checklist/item
    * `pos` order. Cards carry type/owner/fallback/labels with `-`
    * placeholders in the task columns; items the mirror image — the
    * reference's exact column arrangement. (The reference's
    * completed-item skip tests `"completed"` against state values that
    * are spelled `"complete"` — a quirk; the engine filters the real
    * value, documented deviation.) */
  def quickviewRows(cards: DataFrame, items: DataFrame): DataFrame = {
    val cardRows = cards.select(
      col("card_id"), col("card_id").as("trello_id"), lit("Card").as("issue_type"),
      col("card_type"), lit("-").as("task_type"), col("owner"),
      col("fallback_owner").as("owner2"), lit("-").as("assignee"),
      concat_ws(", ", col("label_names")).as("labels"),
      lit(0.0).as("__cpos"), lit(0.0).as("__ipos"), lit(0).as("__is_item"))
    val itemRows = items.select(
      col("card_id"), col("item_id").as("trello_id"), lit("Task").as("issue_type"),
      lit("-").as("card_type"), col("task_type"), lit("-").as("owner"),
      lit("-").as("owner2"), col("assignee"), lit("-").as("labels"),
      col("checklist_pos").as("__cpos"), col("pos").as("__ipos"), lit(1).as("__is_item"))
    cardRows.unionByName(itemRows)
      .withColumn("line", concat(lit("| "),
        concat_ws("|", col("trello_id"), col("issue_type"), col("card_type"),
          col("task_type"), col("owner"), col("owner2"), col("assignee"),
          col("labels")),
        lit(" |")))
      .orderBy(col("card_id"), col("__is_item"), col("__cpos"), col("__ipos"))
      .drop("__cpos", "__ipos", "__is_item")
  }

  /** Issue markdown (A1/A2/A4 + J8): per card the full issue body —
    * intro, quoted desc, then `## <checklist>` sections whose task
    * lines are checkbox-rendered in Trello `pos` order.
    *
    * `issueState` is the state-ledger join (item_id, issue_number,
    * issue_state); items without an issue render as empty lines
    * (transform.js:153-156), and `unissued` flags a card with at least
    * one such item, whose body is not yet final. */
  def renderIssueMarkdown(cards: DataFrame, items: DataFrame,
      issueState: DataFrame): DataFrame = {
    val sections = items
      .join(issueState, Seq("item_id"), "left")
      .withColumn("line",
        when(col("issue_number").isNull, lit(""))
          .otherwise(TrelloTransforms.checkboxLine(col("issue_state"), col("issue_number"))))
      .groupBy("card_id", "checklist_id", "checklist_name", "checklist_pos")
      .agg(concat_ws("\n",
        transform(
          sort_array(collect_list(struct(col("pos"), col("item_id"), col("line")))),
          s => s.getField("line"))).as("task_list"),
        max(col("issue_number").isNull).as("unissued"))
      // `## <name>\n\n<tasks>\n` (transform.js:162,169)
      .withColumn("section",
        concat(lit("## "), col("checklist_name"), lit("\n\n"),
          col("task_list"), lit("\n")))
    val byCard = sections
      .groupBy("card_id")
      .agg(concat_ws("\n",
        transform(
          sort_array(collect_list(struct(col("checklist_pos"), col("checklist_id"),
            col("section")))),
          s => s.getField("section"))).as("checklists_md"),
        max(col("unissued")).as("unissued"))
    cards.join(broadcast(byCard), Seq("card_id"), "left")
      .select(col("card_id"), col("name"),
        concat_ws("\n\n",
          format_string("Imported from <%s>.", col("url")),
          format_string("> %s", col("desc")),
          coalesce(col("checklists_md"), lit(""))).as("body"),
        coalesce(col("unissued"), lit(false)).as("unissued"))
  }
}
