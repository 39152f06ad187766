package perfbench

import graft.sinks.HttpSink.{HttpRequest, HttpResponse, Transport}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spans kept in memory for a traced run: name, start, end (ns), the
  * enclosing span and the operation they belong to. With tracing off,
  * [[span]] just runs its body. The layer of a span is its name up to
  * the first '.'. */
object Trace {
  @volatile var on = false
  @volatile var op = -1

  final class Span(val id: Int, val name: String, val start: Long,
      var end: Long, val parent: Int, val op: Int)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = synchronized {
        val s = new Span(spans.size, name, System.nanoTime(), -1L,
          stack.get.headOption.getOrElse(-1), op)
        spans += s
        s
      }
      stack.set(s.id :: stack.get)
      try body
      finally {
        s.end = System.nanoTime()
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Total time (ms) of the spans named `name` in operation `op`. */
  def ms(name: String, op: Int): Double = synchronized {
    spans.iterator.filter(s => s.op == op && s.name == name && s.end > 0)
      .map(s => s.end - s.start).sum / 1e6
  }

  /** Self time (ms) per layer over all operations: each span's
    * duration minus that of its direct children. */
  def layerSelfMs: Map[String, Double] = synchronized {
    val child = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0 && s.end > 0) child(s.parent) += s.end - s.start)
    spans.filter(s => s.end > 0 && s.op >= 0)
      .groupBy(_.name.takeWhile(_ != '.'))
      .map { case (layer, ss) => layer -> ss.map(s => s.end - s.start - child(s.id)).sum / 1e6 }
  }

  def writeJson(path: String): Unit = {
    val sb = new StringBuilder("[\n")
    all.filter(_.end > 0).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** Transport decorator for traced runs: times and counts the reads
  * (project lookup, field dimension) and the mutations separately. */
final class TracedTransport(inner: Transport) extends Transport {
  var reads = 0L; var readNs = 0L
  var mutations = 0L; var sendNs = 0L; var requestBytes = 0L

  override def send(req: HttpRequest): HttpResponse = {
    val read = req.method == "GET" || req.body.contains("projectsNext")
    val t = System.nanoTime()
    val r = Trace.span(if (read) "sources.get" else "sinks.send")(inner.send(req))
    val dt = System.nanoTime() - t
    if (read) { reads += 1; readNs += dt }
    else {
      mutations += 1; sendNs += dt
      requestBytes += req.url.length + Option(req.body).map(_.length).getOrElse(0)
    }
    r
  }
}

/** Job, stage and task counters from a `SparkListener`, and planning
  * time from `QueryExecution.tracker` through a
  * `QueryExecutionListener`. Snapshots are taken between operations
  * after the listener bus has drained. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var execRunMs = 0L; var execCpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var planMs = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  /** finished jobs as (start, end) epoch ms */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += 1
    jobSpans += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      execRunMs += m.executorRunTime
      execCpuNs += m.executorCpuTime
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { planMs += qe.tracker.phases.values.map(_.durationMs).sum }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { planMs += qe.tracker.phases.values.map(_.durationMs).sum }

  def snapshot: Vector[Double] = synchronized(Vector(jobs, stages, tasks,
    planMs, execRunMs, execCpuNs / 1e6, shuffleBytes / 1024.0, spillBytes / 1024.0)
    .map(_.toDouble))

  /** Wall time (ms) of [t0, t1] covered by no job. */
  def gapMs(t0: Long, t1: Long): Double = synchronized {
    val iv = jobSpans.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (t1 - t0 - covered).toDouble
  }
}

object SparkCounters {
  val Names: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.plan_ms", "spark.exec_run_ms", "spark.exec_cpu_ms", "spark.shuffle_kb",
    "spark.spill_kb")
}
