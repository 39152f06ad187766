package graft

import graft.board.BoardPipeline
import org.apache.spark.sql.functions._

/** End-to-end fixture test of the board pipeline (SURVEY.md §5.4):
  * miniature board.json → normalize → customize → quickview/markdown,
  * replacing the reference's live-API verification with goldens. */
class BoardPipelineSpec extends SparkSpecBase {

  private lazy val boardPath =
    getClass.getResource("/board.json").getPath
  private lazy val board = BoardPipeline.readBoard(spark, boardPath)
  private lazy val n = BoardPipeline.normalized(board)
  private val statusMap = Map("Concepts" -> "Pending", "Production" -> "Production")

  private lazy val cards = BoardPipeline.customizeCards(n, statusMap, "cf1")

  private def strs(r: org.apache.spark.sql.Row, field: String): Seq[String] =
    r.getSeq[String](r.fieldIndex(field)).toList
  private lazy val items = BoardPipeline.customizeItems(n)

  test("normalize explodes the document into tables") {
    assert(n.cards.count() == 3)
    assert(n.checklists.count() == 2)
    assert(n.checkItems.count() == 4)
    assert(n.lists.count() == 3)
    assert(n.members.count() == 3)
  }

  test("customizeCards filters closed + unmapped and derives columns") {
    val rows = cards.collect()
    assert(rows.length == 1) // c2 closed, c3 unmapped list
    val c = rows.head
    assert(c.getAs[String]("card_id") == "c1")
    assert(c.getAs[String]("card_type") == "Concepts")
    assert(c.getAs[String]("card_status") == "Pending")
    assert(strs(c, "label_names") == Seq("Core", "Feature"))
    assert(strs(c, "custom_field_names") == Seq("Secondary Admin"))
    assert(c.getAs[String]("owner") == "riongull")
    assert(c.getAs[String]("fallback_owner") == "samkirby22")
  }

  test("default label fill when card has none") {
    val noLabels = BoardPipeline.customizeCards(
      n.copy(cards = n.cards.withColumn("labels", array().cast(
        org.apache.spark.sql.types.ArrayType(graft.board.BoardModel.label)))),
      statusMap, "cf1")
    assert(noLabels.select("label_names").collect()
      .head.getSeq[String](0).toList == Seq("!Label"))
  }

  test("customizeItems parses, types, and assigns") {
    val rows = items.orderBy("item_id").collect()
    assert(rows.map(_.getAs[String]("item_id")).toSeq == Seq("i1", "i2", "i4")) // i3 complete

    val i1 = rows(0)
    assert(i1.getAs[String]("title") == "Some task")
    assert(i1.getAs[String]("desc") == "Bounty: 1.0 Dash")
    assert(i1.getAs[java.math.BigDecimal]("amount").compareTo(
      new java.math.BigDecimal("1.0")) == 0)
    assert(i1.getAs[String]("task_type") == "Specification Task")
    assert(i1.getAs[String]("assignee") == "riongull")

    val i2 = rows(1)
    assert(i2.getAs[String]("title") ==
      "Some long task name exceeding fifty characters so...")
    assert(i2.getAs[String]("desc") ==
      "that it splits into title and description parts")
    assert(i2.getAs[String]("assignee") == "!Assigned")

    val i4 = rows(2)
    assert(i4.getAs[String]("task_type") == "QA Task")
  }

  test("quickview aggregates sorted distinct sets per category") {
    val qv = BoardPipeline.quickview(cards, items).collect()
      .map(r => r.getAs[String]("category") -> r.getSeq[String](r.fieldIndex("values")).toList).toMap
    assert(qv("Columns") == Seq("Concepts"))
    assert(qv("Labels") == Seq("Core", "Feature"))
    assert(qv("Members") == Seq("riongull"))
    assert(qv("Task Types") == Seq("QA Task", "Specification Task"))
    assert(qv("Assignees") == Seq("!Assigned", "riongull"))
  }

  test("quickview per-row table reproduces the reference's layout " +
      "(board-quickview.js:137-188)") {
    val lines = BoardPipeline.quickviewRows(cards, items)
      .select("line").collect().map(_.getString(0)).toSeq
    // card row first, then its items in (checklist pos, item pos) order:
    // QA Tasks (pos 1.0) i4, then Specification (pos 2.0) i2 (pos 1.0),
    // i1 (pos 2.0)
    assert(lines == Seq(
      "| c1|Card|Concepts|-|riongull|samkirby22|-|Core, Feature |",
      "| i4|Task|-|QA Task|-|-|!Assigned|- |",
      "| i2|Task|-|Specification Task|-|-|!Assigned|- |",
      "| i1|Task|-|Specification Task|-|-|riongull|- |"))
    assert(BoardPipeline.QuickviewHeader.startsWith("| Trello ID |"))
  }

  test("markdown render: sections in pos order, checkbox states, J8 join") {
    import spark.implicits._
    val issueState = Seq(
      ("i1", 37L, "closed"),
      ("i2", 42L, "open")).toDF("item_id", "issue_number", "issue_state")
    val rendered = BoardPipeline.renderIssueMarkdown(cards, items, issueState).collect().head
    val md = rendered.getAs[String]("body")
    // QA checklist (pos 1.0) before Specification (pos 2.0)
    assert(md.contains("Imported from <https://trello.example/c/c1/184-incubator-on-github>."))
    assert(md.contains("> Bounty management, discussions, etc, co-located with our public repos."))
    val qaIdx = md.indexOf("## QA Tasks")
    val specIdx = md.indexOf("## Specification Tasks")
    assert(qaIdx >= 0 && specIdx >= 0 && qaIdx < specIdx)
    // items in pos order within the section: i2 (pos 1.0) before i1 (pos 2.0)
    val i2Idx = md.indexOf("- [ ] #42")
    val i1Idx = md.indexOf("- [x] #37")
    assert(i2Idx >= 0 && i1Idx >= 0 && i2Idx < i1Idx)
    // i4 has no issue → empty line rendered, and the card is flagged
    assert(md.contains("## QA Tasks\n\n\n"))
    assert(rendered.getAs[Boolean]("unissued"))
  }
}
