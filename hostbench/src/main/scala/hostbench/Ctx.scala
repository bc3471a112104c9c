package hostbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, out: String, commit: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"), m.getOrElse("commit", "unknown"))
  }
}

/** Shared state of one run: the session, the failure recorder, and — in a
  * traced run — the span recorder and the job listener.
  */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer,
    val probe: Option[JobProbe], val rec: Recorder) {
  val sc = spark.sparkContext
  val nproc: Int = sc.defaultParallelism
  /** Per-layer values measured directly (decomposed calls, layout sizes). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  private val layerSpans = new ConcurrentHashMap[String, java.lang.Long]()

  def scratch(name: String): String = s"${opts.work}/$name"

  private val t0 = System.nanoTime()
  /** Progress line on stderr with the seconds since the run started. */
  def mark(what: String): Unit =
    System.err.println(f"[hostbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $what")

  /** A call into one layer on behalf of request `reqId`: a span in traced
    * runs, and every Spark job the call launches carries the request tag.
    */
  def call[T](layerName: String, reqId: String)(body: => T): T =
    if (!tracer.enabled) body
    else tracer.span(layerName, reqId) {
      layerSpans.put(reqId, tracer.currentSpan._1)
      JobProbe.tag(sc, reqId)(body)
    }

  /** One timed request of a phase (see [[Recorder.run]]). */
  def request[T](phase: String, cls: String, reqId: String, layerName: String)(
      body: => T)(check: T => Boolean): Option[T] =
    tracer.span(s"request.$phase", reqId) {
      rec.run(phase, cls, reqId)(call(layerName, reqId)(body))(check)
    }

  /** Closed loop of one client: `requests` requests, each sent after the
    * previous one completed. Returns the phase's wall seconds.
    */
  def closedLoop(phase: String, requests: Int)(one: Int => Unit): Double =
    tracer.span(s"phase.$phase", phase) {
      val t0 = System.nanoTime()
      (0 until requests).foreach(one)
      (System.nanoTime() - t0) / 1e9
    }

  /** Run `pass` (returns its request latencies) `passes` times. Returns the
    * median of every pass, for the progress log.
    */
  def warm(passes: Int)(pass: Int => Seq[Double]): Seq[Double] =
    (0 until passes).map(i => Stats.median(pass(i)))

  /** Spark jobs each request launched (traced runs only). */
  def jobsByReq: Map[String, Seq[JobRec]] =
    probe.map(_.allJobs.groupBy(_.reqId)).getOrElse(Map.empty)

  /** Turn the listener's jobs into spans under their requests' layer calls. */
  def addJobSpans(offsetNs: Long): Unit = probe.foreach { p =>
    p.allJobs.filter(_.endMs >= 0).foreach { j =>
      val parent = Option(layerSpans.get(j.reqId)).map(_.longValue).getOrElse(0L)
      val t = JobTotals.of(p, Seq(j))
      tracer.add(Span(tracer.nextId(), parent, j.reqId, "spark.job",
        j.startMs * 1000000L + offsetNs, j.endMs * 1000000L + offsetNs,
        Map("tasks" -> t.tasks.toDouble, "stages" -> t.stages.toDouble,
          "executor_run_ms" -> t.runMs)))
    }
  }
}

object Timed {
  def apply[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
