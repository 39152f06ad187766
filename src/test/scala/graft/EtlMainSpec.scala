package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.board.EtlMain
import graft.board.EtlMain.Fields
import graft.sinks.HttpSink.{HttpRequest, HttpResponse, SinkReport, Transport}
import graft.state.StateStore
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** End-to-end migration of the fixture board (etl.js:363-417 flow):
  * exact sink request log, ledger contents, and idempotent re-run. */
class EtlMainSpec extends SparkSpecBase {

  private val mapper = new ObjectMapper()

  private val fieldIds = Map(
    Fields.TrelloId -> "F_ID", Fields.TrelloType -> "F_TYPE",
    Fields.CardStatus -> "F_STATUS", Fields.CardType -> "F_CARDTYPE",
    Fields.Owner -> "F_OWNER", Fields.FallbackOwner -> "F_FALLBACK",
    Fields.Labels -> "F_LABELS", Fields.TaskType -> "F_TASKTYPE",
    Fields.TaskParent -> "F_PARENT", Fields.TaskParentLink -> "F_PARENTLINK",
    Fields.Dash -> "F_DASH", Fields.TaskAssignee -> "F_ASSIGNEE")

  /** GitHub-shaped scripted backend: mints issue numbers/node ids and
    * answers both GraphQL mutations. It serves no read: the config
    * arrives resolved, field and option ids included. */
  private class FakeGithub extends Transport {
    val log = mutable.Buffer.empty[HttpRequest]
    private var issueSeq = 0
    private var itemSeq = 0
    def send(req: HttpRequest): HttpResponse = {
      log += req
      (req.method, req.url) match {
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

  private def config = EtlMain.EtlConfig(
    owner = "org1", repo = "repo1", projectNodeId = "PROJ1",
    listStatusMap = Map("Concepts" -> "Pending", "Production" -> "Completed"),
    secondaryAdminFieldId = "cf1",
    fieldIds = fieldIds,
    optionIds = Map("F_STATUS" -> Map("Pending" -> "opt_pending", "Completed" -> "opt_done")))

  private lazy val boardPath = getClass.getResource("/board.json").getPath

  test("fixture board migrates end-to-end with the reference's request set") {
    val gh = new FakeGithub
    val result = EtlMain.run(spark, boardPath, config, gh, sleeper = _ => ())

    // the config arrives resolved: the migration reads nothing
    assert(!gh.log.exists(_.method == "GET"))
    val mutations = gh.log.filterNot(r => r.method == "GET")
    // 1 card create + 3 item creates (i1, i2, i4; i3 is complete and
    // never imported, c2 closed, c3 unmapped — exactly the reference's
    // skip set)
    val creates = mutations.filter(r =>
      r.method == "POST" && r.url == "/repos/org1/repo1/issues")
    assert(creates.size == 4)
    val cardCreate = mapper.readTree(creates.head.body)
    assert(cardCreate.at("/title").asText() == "Incubator on GitHub")
    assert(cardCreate.at("/body").asText().startsWith(
      "Imported from <https://trello.example/c/c1/184-incubator-on-github>."))
    assert(cardCreate.at("/assignees/0").asText() == "riongull")
    assert(cardCreate.at("/assignees/1").asText() == "samkirby22")

    // 4 project adds (1 card + 3 items)
    val adds = mutations.filter(_.body.contains("addProjectNextItem"))
    assert(adds.size == 4)
    assert(adds.head.body.contains(""""issueId":"ISSUE1""""))

    // card fields: 7 (id, type, status, card type, owner, fallback,
    // labels); item fields: i1 has 9, i2/i4 7 each (no Dash/assignee)
    val sets = mutations.filter(_.body.contains("updateProjectNextItemField"))
    assert(sets.size == 7 + 9 + 7 + 7)
    // single-select translation: the CardStatus write carries the
    // option id, never the human name (gh.js:439-452)
    val statusSet = sets.find(_.body.contains(""""fieldId":"F_STATUS"""")).get
    assert(statusSet.body.contains(""""value":"opt_pending""""))
    assert(!statusSet.body.contains("Pending"))
    // owner resolution (J7): riongull owner, samkirby22 fallback
    assert(sets.exists(s => s.body.contains(""""fieldId":"F_OWNER"""")
      && s.body.contains(""""value":"riongull"""")))
    assert(sets.exists(s => s.body.contains(""""fieldId":"F_FALLBACK"""")
      && s.body.contains(""""value":"samkirby22"""")))
    // bounty amount normalized through double (1.0000 -> "1.0")
    assert(sets.exists(s => s.body.contains(""""fieldId":"F_DASH"""")
      && s.body.contains(""""value":"1.0"""")))

    // markdown finalize: one PATCH whose body renders both checklist
    // sections with task checkboxes referencing the minted numbers
    val patches = mutations.filter(_.method == "PATCH")
    assert(patches.size == 1)
    val md = mapper.readTree(patches.head.body).at("/body").asText()
    assert(md.contains("## QA Tasks") && md.contains("## Specification Tasks"))
    assert(md.contains("- [ ] #"))

    // ledger state: card at M_LISTS, items at M_CREATED, every row has
    // a project item id
    val ledger = result.issueLedger
    assert(ledger.count() == 4)
    assert(ledger.filter(col("entity_kind") === "card")
      .select("migration").head().getInt(0) == graft.state.StateStore.MLists)
    assert(ledger.filter(col("project_item_id").isNull).count() == 0)
    assert(result.fieldLedger.count() == 7 + 9 + 7 + 7)
    assert(result.report.failed == 0)
    assert(result.report.sent == mutations.size)

    // ---- idempotence: re-running against the returned ledgers sends
    //      NOTHING (the reference's store.get guards, etl.js:41-59)
    val gh2 = new FakeGithub
    val again = EtlMain.run(spark, boardPath, config, gh2,
      issueLedger0 = Some(result.issueLedger),
      fieldLedger0 = Some(result.fieldLedger), sleeper = _ => ())
    assert(gh2.log.filterNot(_.method == "GET").isEmpty)
    assert(again.report.sent == 0)
    assert(again.issueLedger.count() == 4)
  }

  private def variable(req: HttpRequest, name: String): String =
    mapper.readTree(req.body).at(s"/variables/$name").asText()

  private def isCreate(req: HttpRequest): Boolean =
    req.method == "POST" && req.url == "/repos/org1/repo1/issues"

  test("phases keep their dependency order: create → project add → field " +
      "writes per entity, card creates before item creates, finalize last") {
    val gh = new FakeGithub
    val result = EtlMain.run(spark, boardPath, config, gh, sleeper = _ => ())
    val log = gh.log.filterNot(_.method == "GET").toIndexedSeq
    def at(p: HttpRequest => Boolean): Seq[Int] = log.indices.filter(i => p(log(i)))

    // map every request back to its entity through the ledger: the stub
    // mints issue n on the n-th create, adds carry the issue node id and
    // field writes the project item id
    val rows = result.issueLedger.collect().toSeq
    def by(column: String): Map[String, String] =
      rows.map(r => String.valueOf(r.getAs[Any](column)) -> r.getAs[String]("entity_id")).toMap
    val kindOf = rows.map(r => r.getAs[String]("entity_id") -> r.getAs[String]("entity_kind")).toMap
    val creates = at(isCreate)
    val createAt = by("issue_number").map { case (n, id) => id -> creates(n.toInt - 1) }
    val addAt = at(_.body.contains("addProjectNextItem"))
      .map(i => by("issue_node_id")(variable(log(i), "issueId")) -> i).toMap
    val setAt = at(_.body.contains("updateProjectNextItemField"))
      .map(i => by("project_item_id")(variable(log(i), "itemId")) -> i)
    assert(kindOf.keySet == Set("c1", "i1", "i2", "i4"))
    assert(createAt.keySet == kindOf.keySet && addAt.keySet == kindOf.keySet)
    assert(setAt.map(_._1).toSet == kindOf.keySet)

    kindOf.keys.foreach(id => assert(createAt(id) < addAt(id), s"$id added before created"))
    setAt.foreach { case (id, i) => assert(addAt(id) < i, s"$id field written before added") }
    val (cardCreates, itemCreates) = createAt.partition { case (id, _) => kindOf(id) == "card" }
    assert(cardCreates.values.max < itemCreates.values.min)
    val patches = at(_.method == "PATCH")
    assert(patches.size == 1)
    assert(itemCreates.values.forall(_ < patches.head), "finalize rendered before an item existed")
  }

  test("a partly acknowledged migration resumes across both kinds: the " +
      "re-run sends exactly the unacknowledged writes") {
    // 500 to item i2's create and to card c1's CardStatus write
    val gh = new FakeGithub {
      var failing = true
      override def send(req: HttpRequest): HttpResponse = {
        val i2Create = isCreate(req) && req.body.contains("Some long task name")
        val c1Status = req.body.contains(""""fieldId":"F_STATUS"""")
        if (failing && (i2Create || c1Status)) { log += req; HttpResponse(500, "boom") }
        else super.send(req)
      }
    }
    val first = EtlMain.run(spark, boardPath, config, gh, sleeper = _ => ())
    assert(first.report.failed == 2)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("entity_id").collect().map(_.getString(0)).toSeq.sorted
    assert(ids(first.issueLedger) == Seq("c1", "i1", "i4"))
    assert(first.fieldLedger.filter(col("entity_id") === "i2").count() == 0)
    assert(first.fieldLedger.filter(col("entity_id") === "c1" &&
      col("field_id") === "F_STATUS").count() == 0)
    def cardLevels(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.filter(col("entity_kind") === "card").select("migration").collect().map(_.getInt(0)).toSeq
    // i2 has no issue yet, so c1's checklist cannot render in full: the
    // finalize waits and c1 stays below M_LISTS
    assert(!gh.log.exists(_.method == "PATCH"), "c1 finalized without i2's checkbox")
    assert(cardLevels(first.issueLedger) == Seq(graft.state.StateStore.MCreated))

    gh.failing = false
    val sentBefore = gh.log.size
    val again = EtlMain.run(spark, boardPath, config, gh,
      issueLedger0 = Some(first.issueLedger),
      fieldLedger0 = Some(first.fieldLedger), sleeper = _ => ())
    val wire = gh.log.drop(sentBefore).filterNot(_.method == "GET").toSeq
    val row = again.issueLedger.collect().map(r => r.getAs[String]("entity_id") -> r).toMap
    def item(id: String): String = row(id).getAs[String]("project_item_id")

    val creates = wire.filter(isCreate)
    assert(creates.size == 1 && creates.head.body.contains("Some long task name"))
    val adds = wire.filter(_.body.contains("addProjectNextItem"))
    assert(adds.map(variable(_, "issueId")) == Seq(row("i2").getAs[String]("issue_node_id")))
    val sets = wire.filter(_.body.contains("updateProjectNextItemField"))
      .map(r => (variable(r, "itemId"), variable(r, "fieldId")))
    assert(sets.count(_._1 == item("i2")) == 7)
    assert(sets.filterNot(_._1 == item("i2")) == Seq((item("c1"), "F_STATUS")))
    def number(id: String): Long = row(id).getAs[Long]("issue_number")
    val patches = wire.filter(_.method == "PATCH")
    assert(patches.map(_.url) == Seq(s"/repos/org1/repo1/issues/${number("c1")}"))
    val md = mapper.readTree(patches.head.body).at("/body").asText()
    Seq("i1", "i2", "i4").foreach(id =>
      assert(md.contains(s"- [ ] #${number(id)}"), s"$id's checkbox missing:\n$md"))
    assert(wire.indexOf(patches.head) > wire.indexOf(creates.head), "finalized before i2 existed")
    assert(wire.size == creates.size + adds.size + sets.size + patches.size,
      "a run-1 write was sent again")
    assert(again.report.failed == 0 && again.report.sent == wire.size)
    assert(ids(again.issueLedger) == Seq("c1", "i1", "i2", "i4"))
    assert(again.fieldLedger.count() == 7 + 9 + 7 + 7)
    assert(cardLevels(again.issueLedger) == Seq(graft.state.StateStore.MLists))
  }

  test("checklist items of closed cards and of cards in unmapped lists " +
      "get no issue and no project item (etl.js:26-29, :148-151)") {
    // the fixture board plus one incomplete item on c2 (closed) and one
    // on c3 (list Icebox, absent from the status map)
    val board = mapper.readTree(new java.io.File(boardPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val checklists = board.withArray("checklists")
    for ((card, item) <- Seq("c2" -> "i_closed", "c3" -> "i_unmapped"))
      checklists.add(mapper.readTree(
        s"""{"id":"ch_$card","name":"Inactive Tasks","idCard":"$card","pos":9.0,
           |"idBoard":"b1","checkItems":[{"id":"$item","idChecklist":"ch_$card",
           |"state":"incomplete","name":"task of $card","pos":1.0,"due":null,
           |"idMember":null}]}""".stripMargin))
    val dir = java.nio.file.Files.createTempDirectory("graft-inactive")
    val path = dir.resolve("board.json")
    try {
      mapper.writeValue(path.toFile, board)
      val gh = new FakeGithub
      val result = EtlMain.run(spark, path.toString, config, gh, sleeper = _ => ())
      val mutations = gh.log.filterNot(_.method == "GET")
      assert(!mutations.exists(_.body.contains("task of c")),
        "an item of an inactive card reached the wire")
      // the same set as the plain fixture: c1 plus i1, i2, i4
      assert(mutations.count(r => r.method == "POST" &&
        r.url == "/repos/org1/repo1/issues") == 4)
      assert(mutations.count(_.body.contains("addProjectNextItem")) == 4)
      val ids = result.issueLedger.select("entity_id").collect().map(_.getString(0))
      assert(ids.sorted.toSeq == Seq("c1", "i1", "i2", "i4"))
      assert(result.report.failed == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("ledgers persist between batch runs: run → save → load → re-run sends nothing") {
    // the reference's db.json restart semantics (etl.js:14-19), on the
    // batch ledgers: a fresh process that loads the saved state must
    // classify every write as already-applied
    val dir = java.nio.file.Files.createTempDirectory("graft-ledger").toString
    val issuePath = s"$dir/issue_ledger"
    val fieldPath = s"$dir/field_ledger"
    try {
      // first run starts from ABSENT paths — load yields empty ledgers
      val issue0 = graft.state.StateStore.load(spark, issuePath, EtlMain.issueLedgerSchema)
      val field0 = graft.state.StateStore.load(spark, fieldPath, EtlMain.fieldLedgerSchema)
      assert(issue0.count() == 0 && field0.count() == 0)

      val gh = new FakeGithub
      val result = EtlMain.run(spark, boardPath, config, gh,
        issueLedger0 = Some(issue0), fieldLedger0 = Some(field0), sleeper = _ => ())
      assert(result.report.failed == 0)
      graft.state.StateStore.save(result.issueLedger, issuePath)
      graft.state.StateStore.save(result.fieldLedger, fieldPath)

      // "restart": reload from disk, re-run — zero mutations on the wire
      val issue1 = graft.state.StateStore.load(spark, issuePath, EtlMain.issueLedgerSchema)
      val field1 = graft.state.StateStore.load(spark, fieldPath, EtlMain.fieldLedgerSchema)
      assert(issue1.count() == 4)
      val gh2 = new FakeGithub
      val again = EtlMain.run(spark, boardPath, config, gh2,
        issueLedger0 = Some(issue1), fieldLedger0 = Some(field1), sleeper = _ => ())
      assert(gh2.log.filterNot(_.method == "GET").isEmpty)
      assert(again.report.sent == 0)

      // saving a ledger LOADED from the same path must not corrupt it
      // (the temp write fully materializes before the swap)
      val rowsBefore = issue1.collect().map(_.toString).sorted.toSeq
      graft.state.StateStore.save(again.issueLedger, issuePath)
      val issue2 = graft.state.StateStore.load(spark, issuePath, EtlMain.issueLedgerSchema)
      assert(issue2.count() == 4)
      assert(issue2.collect().map(_.toString).sorted.toSeq == rowsBefore)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("sendPhase streams a large multi-partition change set in key " +
      "order with exact ack alignment (first-run-migration shape)") {
    // A first-run migration's change set is corpus-sized; sendPhase
    // must not hold it whole on the driver. The memory CONTRACT is
    // structural — toLocalIterator fetches ONE partition of the
    // ordered frame at a time, sendEach retains nothing, and the
    // phase keeps only key tuples + parsed 2xx acks (id-sized) — so
    // this spec pins the two properties that contract rides on at a
    // deliberately multi-partition, fat-body scale: (1) requests
    // arrive in GLOBAL key order even though the input is scattered
    // across 32 unordered partitions (orderBy's range partitioning +
    // partition-at-a-time fetch compose to a global order), and
    // (2) the streamed key↔ack zip stays exact under interleaved
    // failures (non-2xx rows must drop out of the parsed set without
    // shifting later acks — the bug a positional zip would hide).
    import spark.implicits._
    val n = 20000
    val fat = "x" * 2048
    val reqs = spark.range(n)
      .select(
        format_string("e%07d", col("id")).as("entity_id"),
        lit("POST").as("method"),
        lit("/bulk").as("url"),
        concat(format_string("""{"k":"e%07d","pad":"""", col("id")), lit(fat), lit("\"}"))
          .as("body"))
      .repartition(32) // scatter: global order must come from sendPhase
    val seen = mutable.Buffer.empty[String]
    val transport = new Transport {
      def send(req: HttpRequest): HttpResponse = {
        val k = mapper.readTree(req.body).at("/k").asText()
        seen += k
        // deterministically fail ~1/7 of the rows — alignment must
        // survive holes in the ack stream
        if (k.drop(1).toInt % 7 == 3) HttpResponse(500, "boom")
        else HttpResponse(200, s"""{"ok":"$k"}""")
      }
    }
    val writer = new graft.sinks.HttpSink.RateLimitedWriter(
      transport, graft.sinks.HttpSink.RetryPolicy(), sleeper = _ => ())
    val (acks, report) = graft.sinks.HttpSink.sendPhase(writer, reqs, Seq("entity_id"))
    // global send order = ascending entity_id, all rows exactly once
    assert(seen.size == n)
    assert(seen.toSeq == (0 until n).map(i => f"e$i%07d"))
    // acks: exactly the 2xx rows, each mapped to ITS OWN key
    assert(report.sent == seen.count(k => k.drop(1).toInt % 7 != 3))
    assert(report.failed == n - report.sent)
    assert(acks.size == report.sent)
    acks.foreach { case (keys, resp) =>
      assert(keys.size == 1)
      assert(mapper.readTree(resp.body).at("/ok").asText() == keys.head)
    }
  }

  test("a re-run PATCHes the title of a renamed item and closes an item " +
      "completed since, and the ledger records both (etl.js:199-226)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-drift")
    try {
      val first = EtlMain.run(spark, boardPath, config, new FakeGithub, sleeper = _ => ())
      val issuePath = s"$dir/issue_ledger"
      val fieldPath = s"$dir/field_ledger"
      StateStore.save(first.issueLedger, issuePath)
      StateStore.save(first.fieldLedger, fieldPath)
      val number = first.issueLedger.collect()
        .map(r => r.getAs[String]("entity_id") -> r.getAs[Long]("issue_number")).toMap

      // on Trello since: i4 renamed, i1 completed
      val board = mapper.readTree(new java.io.File(boardPath))
      board.get("checklists").forEach(_.get("checkItems").forEach { node =>
        val item = node.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        item.get("id").asText() match {
          case "i4" => item.put("name", "verify the new flow")
          case "i1" => item.put("state", "complete")
          case _ =>
        }
      })
      val path = dir.resolve("board.json")
      mapper.writeValue(path.toFile, board)

      val gh = new FakeGithub
      val again = EtlMain.run(spark, path.toString, config, gh,
        issueLedger0 = Some(StateStore.load(spark, issuePath, EtlMain.issueLedgerSchema)),
        fieldLedger0 = Some(StateStore.load(spark, fieldPath, EtlMain.fieldLedgerSchema)),
        sleeper = _ => ())
      val wire = gh.log.filterNot(_.method == "GET").toSeq
      assert(wire.map(r => (r.method, r.url)) == Seq(
        ("PATCH", s"/repos/org1/repo1/issues/${number("i4")}"),
        ("PATCH", s"/repos/org1/repo1/issues/${number("i1")}")), wire)
      val retitle = mapper.readTree(wire(0).body)
      assert(retitle.at("/title").asText() == "verify the new flow")
      assert(!retitle.has("state"))
      val close = mapper.readTree(wire(1).body)
      assert(close.at("/state").asText() == "closed")
      assert(!close.has("title"))
      assert(again.report == SinkReport(2, 0, 0))

      val row = again.issueLedger.collect().map(r => r.getAs[String]("entity_id") -> r).toMap
      assert(row("i4").getAs[String]("issue_title") == "verify the new flow")
      assert(row("i4").getAs[String]("issue_state") == "open")
      assert(row("i1").getAs[String]("issue_state") == "closed")
      assert(row("i1").getAs[String]("issue_title") == first.issueLedger
        .filter(col("entity_id") === "i1").select("issue_title").head().getString(0))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  /** Spark jobs of one cold migration of the fixture board: a ratchet,
    * lower it when a change saves jobs. */
  private val ColdMigrationJobs = 22

  test("a cold migration stays within its Spark job budget, and its " +
      "title-drift and close phases launch no job") {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // the jobs started before each request, the listener bus drained
    val gh = new FakeGithub {
      val jobsAt = mutable.Buffer.empty[Int]
      override def send(req: HttpRequest): HttpResponse = {
        ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
        jobsAt += jobs.get
        super.send(req)
      }
    }
    ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      EtlMain.run(spark, boardPath, config, gh, sleeper = _ => ())
      ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    info(s"${jobs.get} jobs")
    assert(jobs.get <= ColdMigrationJobs)
    // title drift and closes run between the last issue create and the
    // first project add; the one job there is the add phase's fetch
    val log = gh.log.toIndexedSeq
    val lastCreate = log.lastIndexWhere(isCreate)
    val firstAdd = log.indexWhere(_.body.contains("addProjectNextItem"))
    assert(lastCreate < firstAdd)
    assert(gh.jobsAt(firstAdd) - gh.jobsAt(lastCreate) == 1,
      s"${gh.jobsAt(firstAdd) - gh.jobsAt(lastCreate)} jobs between the creates and the adds")
  }
}
