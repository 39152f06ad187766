package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.collection.mutable
import scala.util.Random

/** Seeded synthetic Trello boards in the reference's `board.json`
  * shapes (FIXTURES.md section B), and the generator's own model of
  * what a migration must leave on GitHub. The model is computed from the generator's records, not
  * from the program's transforms.
  *
  * Every board holds closed cards, cards in unmapped lists (both with
  * incomplete checklist items, as real boards do), old-format (nested)
  * and new-format (top-level) checklists, bounty names, index prefixes,
  * titles over 50 characters, fuzzy member names in the secondary-admin
  * custom field, and labels. Two inactive cards with fixed ids and
  * names — one closed, one in an unmapped list — are the same on every
  * board.
  */
object BoardGen {

  final case class Shape(active: Int, closed: Int, unmapped: Int,
      itemsPerCard: Int, completePerCard: Int)

  final class Item(val id: String, val checklistId: String, val name: String,
      val state: String, val pos: Double, val member: Option[String],
      val bounty: Option[String])

  final class Checklist(val id: String, val name: String, val cardId: String,
      val pos: Double, val items: mutable.Buffer[Item])

  final class Card(val id: String, val name: String, val desc: String,
      val closed: Boolean, val listId: String, val members: Seq[String],
      val labels: Seq[(String, String)], val secondaryAdmin: Option[String],
      val checklists: Seq[Checklist], val nested: Boolean, val idShort: Long,
      val pos: Double)

  val MappedLists: Seq[(String, String)] = Seq(
    "5a0000000000000000000001" -> "Concepts",
    "5a0000000000000000000002" -> "None",
    "5a0000000000000000000003" -> "Production")
  val UnmappedLists: Seq[(String, String)] = Seq(
    "5a0000000000000000000004" -> "Backlog",
    "5a0000000000000000000005" -> "Archive")
  val BoardLists = "Concepts:Pending, None:Considering, Production:Completed"
  val SecondaryAdminField = "5c0000000000000000000001"
  private val BoardId = "5b0000000000000000000001"
  private val Members: Seq[(String, String, String)] = Seq(
    ("5d0000000000000000000001", "alice_w", "Alice Wong"),
    ("5d0000000000000000000002", "bob-dev", "Bob Dev"),
    ("5d0000000000000000000003", "carol99", "Carol Nine"),
    ("5d0000000000000000000004", "dave.k", "Dave K"),
    ("5d0000000000000000000005", "erin_ops", "Erin Ops"),
    ("5d0000000000000000000006", "frank", "Frank"))
  private val Labels: Seq[(String, String)] = Seq(
    "5e0000000000000000000001" -> "bug", "5e0000000000000000000002" -> "infra",
    "5e0000000000000000000003" -> "docs", "5e0000000000000000000004" -> "ux",
    "5e0000000000000000000005" -> "research")
  private val Words = ("migrate index ledger board column owner review deploy " +
    "wallet payout bounty spec draft release audit sync budget metric").split(' ')
  private val Bounties = Seq("0.5", "1", "1.25", ".5", "2.0")
  private val ChecklistNames = Seq("Dev Tasks", "QA Task", "Docs", "Release Tasks")

  final class Board(val cards: Seq[Card]) {
    private def isActive(c: Card) =
      !c.closed && MappedLists.exists(_._1 == c.listId)
    def activeCards: Seq[Card] = cards.filter(isActive)
    def inactiveCards: Seq[Card] = cards.filterNot(isActive)
    def items(cs: Seq[Card]): Seq[Item] =
      cs.flatMap(_.checklists.flatMap(_.items))
    def openItems(cs: Seq[Card]): Seq[Item] = items(cs).filter(_.state != "complete")
    /** Entities the migration must sync: active cards and their
      * incomplete checklist items. */
    def expectedIds: Set[String] =
      (activeCards.map(_.id) ++ openItems(activeCards).map(_.id)).toSet
    def bounties: Map[String, Double] =
      openItems(activeCards).flatMap(i => i.bounty.map(b => i.id -> b.toDouble)).toMap
  }

  final class Gen(seed: Long) {
    private val rnd = new Random(seed)
    private var shortId = 0L
    private def hex(n: Int): String = Iterator.fill(n)("0123456789abcdef"(rnd.nextInt(16))).mkString
    private def id(): String = hex(24)
    private def words(n: Int): String = Seq.fill(n)(Words(rnd.nextInt(Words.length))).mkString(" ")

    private def itemName(k: Int, bounty: Option[String]): String = {
      val base = rnd.nextInt(6) match {
        case 0 => s"${k + 1}) ${words(3)}"                // index prefix, stripped
        case 1 => s"b ${k + 1}) ${words(3)}"              // not an index prefix
        case 2 => words(12)                               // over 50 chars: split
        case _ => words(2 + rnd.nextInt(4))
      }
      bounty.fold(base)(b => s"$base ($b Dash)")
    }

    def card(listId: String, closed: Boolean, items: Int, complete: Int,
        fixedId: Option[String] = None, fixedName: Option[String] = None): Card = {
      val cid = fixedId.getOrElse(id())
      shortId += 1
      val nested = rnd.nextBoolean()
      val nLists = 1 + rnd.nextInt(2)
      val completeAt = rnd.shuffle((0 until items).toList).take(complete).toSet
      val lists = (0 until nLists).map { li =>
        new Checklist(id(), ChecklistNames(rnd.nextInt(ChecklistNames.length)),
          cid, 16384.0 * (li + 1), mutable.Buffer.empty)
      }
      (0 until items).foreach { k =>
        val cl = lists(k % nLists)
        val bounty = if (rnd.nextInt(4) == 0) Some(Bounties(rnd.nextInt(Bounties.length))) else None
        val member = if (rnd.nextInt(3) == 0) Some(Members(rnd.nextInt(Members.length))._1) else None
        cl.items += new Item(id(), cl.id, itemName(k, bounty),
          if (completeAt(k)) "complete" else "incomplete", 16384.0 * (k + 1), member, bounty)
      }
      val name = fixedName.getOrElse(
        if (rnd.nextInt(4) == 0) words(14) else words(2 + rnd.nextInt(4)))
      // fuzzy secondary admin: a lower-cased fragment of a username
      val admin = if (rnd.nextInt(3) == 0) {
        val u = Members(rnd.nextInt(Members.length))._2
        Some("@" + u.take(3 + rnd.nextInt(2)).toUpperCase)
      } else None
      new Card(cid, name, words(8), closed, listId,
        rnd.shuffle(Members.map(_._1)).take(rnd.nextInt(3)),
        rnd.shuffle(Labels).take(rnd.nextInt(3)), admin, lists, nested, shortId,
        16384.0 * shortId)
    }

    def board(shape: Shape): Board = {
      val cards = mutable.Buffer.empty[Card]
      def mapped = MappedLists(rnd.nextInt(MappedLists.length))._1
      def unmapped = UnmappedLists(rnd.nextInt(UnmappedLists.length))._1
      (0 until shape.active).foreach(_ =>
        cards += card(mapped, closed = false, shape.itemsPerCard, shape.completePerCard))
      (0 until shape.closed).foreach(_ =>
        cards += card(mapped, closed = true, shape.itemsPerCard, shape.completePerCard))
      (0 until shape.unmapped).foreach(_ =>
        cards += card(unmapped, closed = false, shape.itemsPerCard, shape.completePerCard))
      // the two fixed inactive cards
      cards += card(MappedLists.head._1, closed = true, 1, 0,
        Some("600000000000000000000c10"), Some("Closed card with an open item"))
      cards += card(UnmappedLists.head._1, closed = false, 1, 0,
        Some("600000000000000000000b10"), Some("Backlog card with an open item"))
      new Board(rnd.shuffle(cards).toSeq)
    }
  }

  private val IndexPrefix = """^\s*\d+\)\s+""".r
  private val BountySpan = """(?i)\s+\(\s*((\d+)?(\.\d+)?)\s*Dash\s*\)\s*""".r

  /** The issue title GitHub should show for a checklist item, per the
    * reference's rules (transform.js:18-69): drop an "N) " index prefix
    * and a "(x Dash)" bounty, then keep words while the title is under
    * 50 characters, marking a cut with "...". */
  def itemTitle(name: String): String = {
    val noIndex = IndexPrefix.findFirstMatchIn(name).fold(name)(m => name.substring(m.end).trim)
    val clean = BountySpan.findFirstMatchIn(noIndex).filter(_.group(1).nonEmpty)
      .fold(noIndex)(m => (noIndex.substring(0, m.start) + noIndex.substring(m.end)).trim)
    val title = new StringBuilder
    var cut = false
    clean.split("\\s", -1).foreach { w =>
      if (!cut && title.length < 50) title.append(w).append(' ')
      else cut = true
    }
    if (cut) title.toString.trim + "..." else title.toString.trim
  }

  private val mapper = new ObjectMapper()

  def toJson(b: Board): String = {
    val root = mapper.createObjectNode()
    val cards = root.putArray("cards")
    val topLists = root.putArray("checklists")
    def checklistNode(cl: Checklist, into: ArrayNode): Unit = {
      val n = into.addObject()
      n.put("id", cl.id).put("name", cl.name).put("idCard", cl.cardId)
        .put("pos", cl.pos).put("idBoard", BoardId)
      val its = n.putArray("checkItems")
      cl.items.foreach { it =>
        val i = its.addObject()
        i.put("id", it.id).put("idChecklist", it.checklistId).put("state", it.state)
          .put("name", it.name).put("pos", it.pos).putNull("due")
        it.member.fold(i.putNull("idMember"))(m => i.put("idMember", m))
      }
    }
    b.cards.foreach { c =>
      val n = cards.addObject()
      n.put("id", c.id).put("name", c.name).put("desc", c.desc)
        .put("url", s"https://trello.com/c/${c.id.take(8)}").put("closed", c.closed)
        .put("pos", c.pos).put("idShort", c.idShort).put("idList", c.listId)
        .put("idBoard", BoardId).put("dateLastActivity", "2022-03-01T12:00:00.000Z")
        .putNull("due").put("dueComplete", false)
      val ms = n.putArray("idMembers"); c.members.foreach(ms.add)
      val cls = n.putArray("idChecklists"); c.checklists.foreach(cl => cls.add(cl.id))
      val ls = n.putArray("labels")
      c.labels.foreach { case (lid, name) =>
        ls.addObject().put("id", lid).put("idBoard", BoardId).put("name", name)
          .put("color", "green")
      }
      val cf = n.putArray("customFieldItems")
      c.secondaryAdmin.foreach { text =>
        val f = cf.addObject()
        f.put("id", s"cfi${c.id.take(8)}").put("idCustomField", SecondaryAdminField)
          .put("idModel", c.id).put("modelType", "card")
        f.putObject("value").put("text", text)
      }
      if (c.nested) {
        val nestedLists = n.putArray("checklists")
        c.checklists.foreach(checklistNode(_, nestedLists))
      } else c.checklists.foreach(checklistNode(_, topLists))
      n.putObject("badges").put("checkItems", c.checklists.map(_.items.size).sum)
        .put("checkItemsChecked", c.checklists.map(_.items.count(_.state == "complete")).sum)
        .put("comments", 0)
    }
    def dim(name: String, rows: Seq[(String, String)], key: String): Unit = {
      val a = root.putArray(name)
      rows.foreach { case (i, v) => a.addObject().put("id", i).put(key, v) }
    }
    dim("lists", MappedLists ++ UnmappedLists, "name")
    val labels = root.putArray("labels")
    Labels.foreach { case (i, v) => labels.addObject().put("id", i).put("name", v).put("color", "green") }
    val members = root.putArray("members")
    Members.foreach { case (i, u, f) => members.addObject().put("id", i).put("username", u).put("fullName", f) }
    dim("customFields", Seq(SecondaryAdminField -> "secondaryAdmin",
      "5c0000000000000000000002" -> "Notes"), "name")
    mapper.writeValueAsString(root)
  }
}
