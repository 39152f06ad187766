package graft

import graft.sinks.HttpSink._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Deterministic sink tests: pacing, exponential backoff with cap and
  * reset-on-success (lib/gh.js:17, 32-44 semantics) — replacing the
  * reference's live-API integration test with a scripted transport. */
class HttpSinkSpec extends AnyFunSuite {

  private class ScriptedTransport(script: Seq[Int]) extends Transport {
    val seen = mutable.Buffer.empty[HttpRequest]
    private var i = -1
    def send(req: HttpRequest): HttpResponse = {
      seen += req; i += 1
      val status = if (i < script.length) script(i) else 200
      // 403s in these scripts model GitHub's secondary rate limit — the
      // body is what makes them retryable (gh.js:33); see the plain-403
      // fail-fast test for the other kind
      val body =
        if (status == 403) """{"message":"You have exceeded a secondary rate limit"}"""
        else "{}"
      HttpResponse(status, body)
    }
  }

  /** Send through [[RateLimitedWriter.sendEach]]; returns the report
    * and the (request, response) callbacks in order. */
  private def sendEach(w: RateLimitedWriter, reqs: Seq[HttpRequest])
      : (SinkReport, Seq[(HttpRequest, HttpResponse)]) = {
    val pairs = mutable.Buffer.empty[(HttpRequest, HttpResponse)]
    val report = w.sendEach(reqs.iterator)((req, resp) => pairs += ((req, resp)))
    (report, pairs.toSeq)
  }

  private def run(script: Seq[Int], nReqs: Int,
      policy: RetryPolicy = RetryPolicy()): (SinkReport, Seq[Long], ScriptedTransport) = {
    val sleeps = mutable.Buffer.empty[Long]
    val t = new ScriptedTransport(script)
    val w = new RateLimitedWriter(t, policy, sleeps.append(_))
    val reqs = (1 to nReqs).map(k => HttpRequest("POST", s"/issues/$k", "{}"))
    val (report, pairs) = sendEach(w, reqs)
    // one callback per request, in input order
    assert(pairs.map(_._1) == reqs)
    (report, sleeps.toSeq, t)
  }

  test("paces between writes, not before the first") {
    val (report, sleeps, _) = run(Seq(200, 200, 200), 3)
    assert(report == SinkReport(3, 0, 0))
    assert(sleeps == Seq(3000L, 3000L))
  }

  test("backoff doubles per rate-limit hit and resets on success") {
    // req1: 403, 403, 200 → sleeps 60s then 120s; req2 clean
    val (report, sleeps, _) = run(Seq(403, 403, 200, 200), 2)
    assert(report == SinkReport(2, 2, 0))
    assert(sleeps == Seq(60000L, 120000L, 3000L))
  }

  test("backoff caps at 3660s") {
    val policy = RetryPolicy(maxRetries = 10)
    val (report, sleeps, _) = run(Seq.fill(8)(429) :+ 200, 1, policy)
    assert(report.sent == 1)
    val backoffs = sleeps
    assert(backoffs.take(8) ==
      Seq(60000L, 120000L, 240000L, 480000L, 960000L, 1920000L, 3660000L, 3660000L))
  }

  test("non-retryable error counts as failed, run continues") {
    val (report, _, t) = run(Seq(500, 200), 2)
    assert(report == SinkReport(1, 0, 1))
    assert(t.seen.map(_.url) == Seq("/issues/1", "/issues/2"))
  }

  test("sendEach stays 1:1 with input when a request exhausts retries") {
    // req1 burns every retry on 429s; req2 succeeds. The exhausted
    // request must still emit a terminal row — HttpSink.sendPhase aligns
    // responses to request rows positionally, and a dropped entry would
    // attribute req2's 2xx to req1's row (wrong issue number in the
    // ledger, phantom "applied" mark for a write that never landed).
    val policy = RetryPolicy(maxRetries = 2)
    val sleeps = mutable.Buffer.empty[Long]
    val t = new ScriptedTransport(Seq(429, 429, 429, 200))
    val w = new RateLimitedWriter(t, policy, sleeps.append(_))
    val reqs = Seq(
      HttpRequest("POST", "/issues/1", "{}"),
      HttpRequest("POST", "/issues/2", "{}"))
    val (report, pairs) = sendEach(w, reqs)
    assert(pairs.map(_._1.url) == Seq("/issues/1", "/issues/2"))
    assert(pairs.head._2 == HttpResponse(429, "retries exhausted"))
    assert(pairs(1)._2.status == 200)
    assert(report == SinkReport(1, 3, 1))
    assert(sleeps == Seq(60000L, 120000L, 240000L, 3000L))
  }

  test("plain 403 (no secondary-rate-limit body) fails fast, no backoff") {
    // a bad token would otherwise stall a task for hours of doubling
    // backoff; the reference only backs off when the body says so
    val sleeps = mutable.Buffer.empty[Long]
    val t = new Transport {
      var n = 0
      def send(req: HttpRequest): HttpResponse = {
        n += 1; HttpResponse(403, """{"message":"Bad credentials"}""")
      }
    }
    val w = new RateLimitedWriter(t, RetryPolicy(), sleeps.append(_))
    val req = HttpRequest("POST", "/issues/1", "{}")
    val (report, pairs) = sendEach(w, Seq(req))
    assert(report == SinkReport(0, 0, 1))
    assert(pairs == Seq((req, HttpResponse(403, """{"message":"Bad credentials"}"""))))
    assert(sleeps.isEmpty)
  }
}
