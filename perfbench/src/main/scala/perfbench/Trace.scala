package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spark jobs as a listener sees them: id → (start ms, end ms). */
final class JobLog extends SparkListener {
  private val starts = new ConcurrentHashMap[Int, Long]()
  private val ends = new ConcurrentHashMap[Int, Long]()
  override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)

  def maxJobId: Int = if (starts.isEmpty) -1 else starts.keySet.asScala.max

  /** jobs with ids in (after, upTo] and the wall time (ms) during which at
    * least one of them ran — overlapping jobs (ask's concurrent legs) are
    * counted once */
  def between(after: Int, upTo: Int): (Int, Double) = {
    val ids = (after + 1 to upTo).filter(starts.containsKey)
    val spans = ids.map(i => (starts.get(i), Option(ends.get(i)).getOrElse(starts.get(i))))
      .sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy += curE - curS
    (ids.size, busy.toDouble)
  }
}

/** One timed region: a facade call or a public layer call. Spans of one
  * benchmark operation share `callId`; `parent` names the operation. */
final case class Span(name: String, callId: Int, parent: String,
                      startNs: Long, endNs: Long, jobs: Int, jobMs: Double) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Times calls. With tracing on it also counts each call's Spark jobs and
  * keeps every span in memory until [[write]]; with tracing off it only
  * reads the clock, so untraced runs pay no listener or bus drain. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val log = if (enabled) { val l = new JobLog; sc.addSparkListener(l); Some(l) } else None
  val spans = ArrayBuffer.empty[Span]
  private var callId = 0
  private var parent = ""

  /** start a benchmark operation; spans until the next call belong to it */
  def op(name: String): Unit = { callId += 1; parent = name }

  /** run `body`, returning its value and its span */
  def time[A](name: String)(body: => A): (A, Span) = {
    val before = log.map { l => org.apache.spark.PerfbenchBus.drain(sc); l.maxJobId }
    val t0 = System.nanoTime()
    val out = body
    val t1 = System.nanoTime()
    val (jobs, jobMs) = log.map { l =>
      org.apache.spark.PerfbenchBus.drain(sc); l.between(before.get, l.maxJobId)
    }.getOrElse((0, 0.0))
    val span = Span(name, callId, parent, t0, t1, jobs, jobMs)
    if (enabled) spans += span
    (out, span)
  }

  /** spans as JSON lines */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"name":"${s.name}","call":${s.callId},"parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${s.jobs},"job_ms":${s.jobMs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
