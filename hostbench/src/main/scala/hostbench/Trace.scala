package hostbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed span: a workload, phase, request, layer call or Spark job.
  * All spans of one request share `reqId`; `parent` is the causing span.
  */
final case class Span(id: Long, parent: Long, reqId: String, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, it only runs the body: the untraced
  * runs that produce end-to-end metrics pay no tracing cost.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, String)] {
    override def initialValue(): (Long, String) = (0L, "")
  }

  /** Run `body` inside a span. A `reqId` of null inherits the enclosing
    * span's request id.
    */
  def span[T](name: String, reqId: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val (parent, parentReq) = current.get()
      val req = if (reqId == null) parentReq else reqId
      val id = ids.incrementAndGet()
      current.set((id, req))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, req, name, t0, System.nanoTime()))
        current.set((parent, parentReq))
      }
    }

  /** Id and request of the innermost open span on this thread. */
  def currentSpan: (Long, String) = current.get()

  def add(s: Span): Unit = if (enabled) spans.add(s)
  def nextId(): Long = ids.incrementAndGet()
  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name: duration minus the part covered by children
    * (children of one parent are assumed not to overlap each other).
    */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    ss.groupBy(_.name).toSeq.map { case (n, xs) =>
      val total = xs.map(_.ms).sum
      val self = xs.map(s => math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0))).sum
      (n, xs.length, total, self)
    }.sortBy(-_._4)
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      val base = Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "req" -> Json.str(s.reqId), "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "ms" -> Json.num(s.ms))
      val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }
      w.write(Json.obj(base ++ attrs)); w.newLine()
    } finally w.close()
  }
}

/** Aggregated task metrics of one stage. */
final class StageAgg(val stageId: Int) {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** One Spark job seen by the listener, with its request tag and the call
  * stacks of its stages.
  */
final class JobRec(val jobId: Int, val reqId: String, val callSite: String,
    val startMs: Long, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
  def wallMs: Double = if (endMs < 0) 0.0 else (endMs - startMs).toDouble
}

/** The benchmark's own SparkListener: records every job with the request
  * tag the calling thread set (see [[JobProbe.tag]]), and per-stage task
  * metrics. Events arrive asynchronously; call [[drain]] before reading.
  */
final class JobProbe extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val req = props.flatMap(p => Option(p.getProperty(JobProbe.ReqKey))).getOrElse("")
    // the stages' long call sites carry the user-code stack of the action
    val site = e.stageInfos.map(_.details).mkString("\n")
    jobs.put(e.jobId, new JobRec(e.jobId, req, site, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.computeIfAbsent(e.stageId, id => new StageAgg(id))
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.outputBytes += m.outputMetrics.bytesWritten
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.taskMs += e.taskInfo.duration
      }
    }
  }

  def allJobs: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.jobId)
  def stage(id: Int): Option[StageAgg] = Option(stages.get(id))

  /** Wait until every posted event has reached this listener. */
  def drain(sc: SparkContext): Unit = org.apache.spark.HostbenchBus.drain(sc)
}

object JobProbe {
  val ReqKey = "hostbench.req"

  /** Tag the Spark jobs the calling thread launches inside `body`. */
  def tag[T](sc: SparkContext, reqId: String)(body: => T): T = {
    val prev = sc.getLocalProperty(ReqKey)
    sc.setLocalProperty(ReqKey, reqId)
    try body finally sc.setLocalProperty(ReqKey, prev)
  }
}

/** Job-level totals over a set of jobs. */
final case class JobTotals(jobs: Int, stages: Int, tasks: Int, wallMs: Double,
    runMs: Double, cpuS: Double, gcMs: Double, inputBytes: Double,
    outputBytes: Double, shuffleWriteBytes: Double, maxTaskSkew: Double)

object JobTotals {
  def of(probe: JobProbe, js: Seq[JobRec]): JobTotals = {
    val sts = js.flatMap(_.stageIds).distinct.flatMap(probe.stage)
    // skew of the widest stage: slowest task over the median task
    val skew = sts.filter(_.taskMs.nonEmpty).sortBy(-_.tasks).headOption
      .map { s =>
        val ms = s.taskMs.map(_.toDouble).toSeq
        val med = Stats.median(ms)
        if (med > 0) ms.max / med else 1.0
      }.getOrElse(0.0)
    JobTotals(js.length, sts.length, sts.map(_.tasks).sum,
      js.map(_.wallMs).sum, sts.map(_.runMs.toDouble).sum,
      sts.map(_.cpuNs / 1e9).sum, sts.map(_.gcMs.toDouble).sum,
      sts.map(_.inputBytes.toDouble).sum, sts.map(_.outputBytes.toDouble).sum,
      sts.map(_.shuffleWriteBytes.toDouble).sum, skew)
  }
}
