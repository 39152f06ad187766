package graft

import graft.sinks.HttpSink.{HttpRequest, HttpResponse, RetryPolicy, Transport}
import graft.state.StateStore
import graft.streaming.ChangeSetStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.collection.mutable

/** The streaming change-set shipper: per-batch rate-limited sends,
  * applied-key ledger guard (the reference's store.get idempotence,
  * etl.js:41-59, across stream restarts), acked-only ledger appends. */
class ChangeSetStreamSpec extends SparkSpecBase {

  private class RecordingTransport(failUrls: Set[String] = Set.empty)
      extends Transport {
    val log = mutable.Buffer.empty[HttpRequest]
    def send(req: HttpRequest): HttpResponse = {
      log += req
      if (failUrls(req.url)) HttpResponse(500, "{}")
      else HttpResponse(200, "{}")
    }
  }

  private def ledgerKeys(dir: String): Set[String] =
    StateStore.loadLog(spark, dir, StructType(Seq(StructField("entity_id", StringType))))
      .rows.collect().map(_.getString(0)).toSet

  test("micro-batches ship in key order and acked keys land in the ledger") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_css").toString
    val ledger = s"$dir/ledger"
    val mem = MemoryStream[(String, String, String, String)]
    val changes = mem.toDF().toDF("entity_id", "method", "url", "body")
    val gh = new RecordingTransport
    val q = ChangeSetStream.ship(changes, gh, ledger,
      keyCols = Seq("entity_id"), policy = RetryPolicy(), sleeper = _ => ())
    try {
      mem.addData(("e2", "POST", "/issues/e2", "{}"), ("e1", "POST", "/issues/e1", "{}"))
      q.processAllAvailable()
      // deterministic send order inside the batch: by key, not arrival
      assert(gh.log.map(_.url) == Seq("/issues/e1", "/issues/e2"))
      assert(ledgerKeys(ledger) == Set("e1", "e2"))

      mem.addData(("e3", "POST", "/issues/e3", "{}"))
      q.processAllAvailable()
      assert(gh.log.size == 3)
      assert(ledgerKeys(ledger) == Set("e1", "e2", "e3"))
    } finally q.stop()
  }

  test("replayed rows already in the ledger are never re-sent") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_css").toString
    val ledger = s"$dir/ledger"
    val mem = MemoryStream[(String, String, String, String)]
    val changes = mem.toDF().toDF("entity_id", "method", "url", "body")
    val gh = new RecordingTransport
    val q = ChangeSetStream.ship(changes, gh, ledger,
      keyCols = Seq("entity_id"), sleeper = _ => ())
    try {
      mem.addData(("e1", "POST", "/issues/e1", "{}"))
      q.processAllAvailable()
      // a restart replays the batch: same rows arrive again
      mem.addData(("e1", "POST", "/issues/e1", "{}"), ("e2", "POST", "/issues/e2", "{}"))
      q.processAllAvailable()
      // e1 was applied; only e2 goes out
      assert(gh.log.map(_.url) == Seq("/issues/e1", "/issues/e2"))
    } finally q.stop()
  }

  test("a ledger crash mid-swap recovers instead of re-sending acks " +
      "(StateStore generation semantics, shared with the batch path)") {
    // the crash hits the generation that holds the acked keys: first an
    // ack delta, then (after a compaction) the log's base
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_css").toString
    val ledger = s"$dir/ledger"
    val mem = MemoryStream[(String, String, String, String)]
    val changes = mem.toDF().toDF("entity_id", "method", "url", "body")
    val gh = new RecordingTransport
    val q = ChangeSetStream.ship(changes, gh, ledger,
      keyCols = Seq("entity_id"), sleeper = _ => ())
    try {
      mem.addData(("e1", "POST", "/issues/e1", "{}"))
      q.processAllAvailable()
      assert(ledgerKeys(ledger) == Set("e1"))
      // simulate a crash between StateStore.save's stage-out and commit
      // renames: the live dir vanishes, only an .old-* generation stays
      val delta = s"$ledger/delta-000000000000"
      assert(new java.io.File(delta).renameTo(new java.io.File(s"$delta.old-crash")))
      // the replay arrives; a naive read would see an EMPTY ledger and
      // re-send e1 — recovery must roll the generation back first
      mem.addData(("e1", "POST", "/issues/e1", "{}"), ("e2", "POST", "/issues/e2", "{}"))
      q.processAllAvailable()
      assert(gh.log.map(_.url) == Seq("/issues/e1", "/issues/e2"))
      assert(ledgerKeys(ledger) == Set("e1", "e2"))
      // the same crash on the compacted base
      StateStore.compact(spark, ledger, StructType(Seq(StructField("entity_id", StringType))))
      val base = s"$ledger/base"
      assert(new java.io.File(base).renameTo(new java.io.File(s"$base.old-crash")))
      mem.addData(("e1", "POST", "/issues/e1", "{}"), ("e2", "POST", "/issues/e2", "{}"),
        ("e3", "POST", "/issues/e3", "{}"))
      q.processAllAvailable()
      assert(gh.log.map(_.url) == Seq("/issues/e1", "/issues/e2", "/issues/e3"))
      assert(ledgerKeys(ledger) == Set("e1", "e2", "e3"))
    } finally q.stop()
  }

  test("a failed write stays out of the ledger and is retried next batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_css").toString
    val ledger = s"$dir/ledger"
    val mem = MemoryStream[(String, String, String, String)]
    val changes = mem.toDF().toDF("entity_id", "method", "url", "body")
    val gh = new RecordingTransport(failUrls = Set("/issues/e1"))
    val q = ChangeSetStream.ship(changes, gh, ledger,
      keyCols = Seq("entity_id"), sleeper = _ => ())
    try {
      mem.addData(("e1", "POST", "/issues/e1", "{}"), ("e2", "POST", "/issues/e2", "{}"))
      q.processAllAvailable()
      // e1 got a 500: acked-only append keeps it out of the ledger
      assert(ledgerKeys(ledger) == Set("e2"))
      // the replay (here: the same row arriving again) retries e1 only
      mem.addData(("e1", "POST", "/issues/e1", "{}"), ("e2", "POST", "/issues/e2", "{}"))
      q.processAllAvailable()
      assert(gh.log.map(_.url) == Seq("/issues/e1", "/issues/e2", "/issues/e1"))
    } finally q.stop()
  }
}
