package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Rate-limited HTTP sink — the Spark-native form of the reference's
  * REST/GraphQL writers (lib/gh.js:192-202, 348-367, 430-485) with its
  * retry policy (lib/gh.js:17, 21-46): secondary-rate-limit detection,
  * exponential backoff 60 s → ×2 per hit → capped at 3660 s, reset on
  * success, plus fixed pacing between mutations (etl.js:6 SLEEP=3000).
  *
  * Design (SURVEY.md §4): the analytic 99% of a pipeline stays fully
  * parallel; only the (small) change set from
  * [[graft.state.StateStore.changeSet]] reaches this sink, streamed to
  * the driver by [[sendPhase]] and sent one request at a time through
  * one [[RateLimitedWriter]] — a single rate-limit domain, matching the
  * reference's deliberate anti-parallelism. Everything is injectable
  * (transport, sleeper) so tests run with a virtual clock and a
  * scripted transport — the reference's live-API test
  * (tests/set-field-value.js) becomes a deterministic unit test.
  */
object HttpSink {

  final case class HttpRequest(method: String, url: String, body: String)
  final case class HttpResponse(status: Int, body: String)

  /** Pluggable transport; production impl would wrap java.net.http. */
  trait Transport extends Serializable {
    def send(req: HttpRequest): HttpResponse
  }

  /** Rate-limit policy mirroring lib/gh.js semantics. */
  final case class RetryPolicy(
      paceMs: Long = 3000L,           // etl.js:6 inter-write pacing
      backoffInitialMs: Long = 60000L, // gh.js:17 first backoff
      backoffCapMs: Long = 3660000L,   // gh.js:37 cap
      maxRetries: Int = 10)

  final case class SinkReport(sent: Int, retried: Int, failed: Int)

  /** Serialized writer with pacing + exponential backoff.
    * `sleeper` is injectable for tests (virtual time). */
  final class RateLimitedWriter(
      transport: Transport,
      policy: RetryPolicy,
      sleeper: Long => Unit = Thread.sleep) extends Serializable {

    /** 429 always backs off; 403 only when the body says it is a
      * secondary rate limit — the reference's check (gh.js:33 matches
      * 'secondary rate limit' in the message). A plain 403 (bad token,
      * forbidden resource) is a hard failure there and must fail fast
      * here too, not stall a Spark task for hours of doubling backoff. */
    private def isRateLimited(r: HttpResponse): Boolean =
      r.status == 429 ||
        (r.status == 403 && r.body != null &&
          r.body.toLowerCase.contains("secondary rate limit"))

    /** Send `reqs` in order; `onResult` fires once per input request,
      * immediately after its final response — the connector tier
      * (EtlMain) needs the created issue's number and node id from the
      * response body, exactly as the reference stores the full
      * create/update responses (etl.js:44-45,195-199).
      *
      * The callbacks are strictly 1:1 with the input, in order: a
      * request that exhausts its rate-limit retries yields a synthetic
      * terminal `HttpResponse(429, "retries exhausted")` rather than
      * being dropped — [[sendPhase]] aligns responses to request rows
      * positionally, and a dropped entry would attribute later 2xx
      * responses to the wrong rows. NOTHING is retained here, so a
      * caller that drops request bodies as it goes ([[sendPhase]] keeps
      * only key tuples + 2xx responses) gets a driver footprint bounded
      * by what IT keeps, not by the change-set's serialized bodies. */
    def sendEach(reqs: Iterator[HttpRequest])(
        onResult: (HttpRequest, HttpResponse) => Unit): SinkReport = {
      var sent = 0; var retried = 0; var failed = 0
      var backoff = policy.backoffInitialMs
      var first = true
      reqs.foreach { req =>
        if (!first) sleeper(policy.paceMs)
        first = false
        var attempts = 0
        var done = false
        while (!done && attempts <= policy.maxRetries) {
          val resp = transport.send(req)
          if (isRateLimited(resp)) {
            attempts += 1; retried += 1
            sleeper(backoff)
            backoff = math.min(backoff * 2, policy.backoffCapMs) // gh.js:32-44
          } else {
            if (resp.status >= 200 && resp.status < 300) {
              sent += 1
              backoff = policy.backoffInitialMs // reset on success (gh.js:41)
            } else failed += 1
            onResult(req, resp)
            done = true
          }
        }
        if (!done) { // retries exhausted: emit a terminal row, keep 1:1
          failed += 1
          onResult(req, HttpResponse(429, "retries exhausted"))
        }
      }
      SinkReport(sent, retried, failed)
    }
  }

  /** Ship request rows (keys…, method, url, body) through `writer` in
    * key order; returns (key values, response) for the 2xx requests
    * ONLY and the sink report, so callers mark exactly the acknowledged
    * writes as applied and leave failed ones for a resume to retry.
    *
    * Driver-memory bound: the ordered frame streams through
    * `toLocalIterator` (orderBy's range partitioning keeps global key
    * order across the partition-at-a-time fetch), so request bodies —
    * the corpus-sized part of a first-run migration — hold at most ONE
    * partition on the driver; the phase retains only key tuples and
    * 2xx responses. */
  def sendPhase(writer: RateLimitedWriter, reqs: DataFrame, keyCols: Seq[String])
      : (Seq[(Seq[String], HttpResponse)], SinkReport) = {
    val k = keyCols.length
    val rowIt = reqs.select((keyCols ++ Seq("method", "url", "body")).map(col): _*)
      .orderBy(keyCols.map(col): _*)
      .toLocalIterator()
    // keys are captured AS the request iterator drains (sendEach pulls
    // one row, sends, fires the callback, then pulls the next — a
    // streaming zip), so the positional alignment sendEach guarantees
    // (one callback per request, in input order, terminal rows for
    // exhausted retries) maps back to keys without re-materializing
    // the rows; request bodies are dropped the moment their response
    // lands
    var curKeys: Seq[String] = Seq.empty
    val reqIt = new Iterator[HttpRequest] {
      override def hasNext: Boolean = rowIt.hasNext
      override def next(): HttpRequest = {
        val r = rowIt.next()
        curKeys = (0 until k).map(r.getString)
        HttpRequest(r.getString(k), r.getString(k + 1), r.getString(k + 2))
      }
    }
    val acked = Seq.newBuilder[(Seq[String], HttpResponse)]
    val report = writer.sendEach(reqIt) { (_, resp) =>
      if (resp.status >= 200 && resp.status < 300) acked += ((curKeys, resp))
    }
    (acked.result(), report)
  }
}
