package hostbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** Order statistics over latency samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.length
}

/** One timed request: which phase and query class it belongs to, its wall
  * time, and whether it succeeded (completed and passed its output check).
  */
final case class Sample(phase: String, cls: String, reqId: String,
    ms: Double, ok: Boolean, error: String = "")

/** Failure-accounting recorder shared by every workload.
  *
  * A request that throws, or whose output check fails, is recorded as
  * failed and never enters a latency sample: a crashing request must not
  * read as a fast one.
  */
final class Recorder {
  private val samples = new ConcurrentLinkedQueue[Sample]()

  /** Time `body` as one request. `check` judges the returned value; a
    * thrown exception or a failed check marks the request failed. Returns
    * the value when the request succeeded.
    */
  def run[T](phase: String, cls: String, reqId: String)(body: => T)(
      check: T => Boolean = (_: T) => true): Option[T] = {
    val t0 = System.nanoTime()
    val res =
      try Right(body)
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Right(v) =>
        val ok =
          try check(v)
          catch { case scala.util.control.NonFatal(_) => false }
        samples.add(Sample(phase, cls, reqId, ms, ok,
          if (ok) "" else "output check failed"))
        if (ok) Some(v) else None
      case Left(e) =>
        samples.add(Sample(phase, cls, reqId, ms, ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        None
    }
  }

  /** Mark an already-recorded successful request as failed (an output check
    * that runs after the timed window, e.g. the exhaustive comparison).
    */
  def failAfter(reqId: String, why: String): Unit = {
    val it = samples.iterator()
    var found = false
    while (it.hasNext && !found) {
      val s = it.next()
      if (s.reqId == reqId && s.ok) {
        samples.remove(s)
        samples.add(s.copy(ok = false, error = why))
        found = true
      }
    }
    if (!found) samples.add(Sample("check", "check", reqId, 0.0, ok = false, why))
  }

  /** Record a standalone output check (outside any timed request). */
  def check(reqId: String, ok: Boolean, why: => String): Unit =
    if (!ok) samples.add(Sample("check", "check", reqId, 0.0, ok = false, why))

  def all: Seq[Sample] = samples.asScala.toSeq
  def attempted: Int = all.count(_.phase != "check")
  def failed: Int = all.count(s => !s.ok)

  /** Latencies (ms) of the successful requests of a phase (and class). */
  def okMs(phase: String, cls: String = null): Seq[Double] =
    all.filter(s => s.ok && s.phase == phase && (cls == null || s.cls == cls))
      .map(_.ms)

  def errors: Seq[Sample] = all.filterNot(_.ok)
}

/** Fixed single-thread CPU canary: a slow canary means the host, not the
  * engine, was slow during the run.
  */
object Canary {
  def runSec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 60000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    if (acc == 42) println("") // keep the loop live
    (System.nanoTime() - t0) / 1e9
  }
}

/** Host and process facts read from /proc. */
object HostFacts {
  private def procField(file: String, key: String): Option[Long] = {
    val p = java.nio.file.Paths.get(file)
    if (!java.nio.file.Files.exists(p)) None
    else java.nio.file.Files.readAllLines(p).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong)
  }

  def memTotalKb: Long = procField("/proc/meminfo", "MemTotal").getOrElse(-1L)

  /** (steal, total) jiffies of all CPUs since boot, from /proc/stat. */
  def cpuJiffies: (Long, Long) = {
    val p = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val f = java.nio.file.Files.readAllLines(p).get(0).trim.split("\\s+").drop(1)
        .map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    }
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb: Double =
    procField("/proc/self/status", "VmHWM").map(_ / 1024.0).getOrElse(Double.NaN)
}

/** Minimal JSON rendering for the result records. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
