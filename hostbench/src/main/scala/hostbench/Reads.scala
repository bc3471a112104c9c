package hostbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.query.{QueryEngine, Wand}

/** The three read phases, over one driver-path engine and one engine forced
  * onto the distributed windowed path (`driverWandMaxSegments = 0`).
  */
final class Reads(ctx: Ctx, val eng: QueryEngine, seed: Long,
    val cached: IndexedSeq[Q], distributedQueries: Int) {
  private val rec = ctx.rec
  private var expected: Array[Array[Wand.Scored]] = Array.empty
  val distQs: IndexedSeq[Q] = Queries.Distributed.take(distributedQueries)
  private var distExpected: Array[Array[Wand.Scored]] = Array.empty
  private val measured = new Queries.Distinct(seed, lane = 0)
  private val warmStream = new Queries.Distinct(seed, lane = 1)
  /** Uncached requests with their returned top-k, for the output check. */
  val uncachedDone = new ConcurrentLinkedQueue[(String, Q, Array[Wand.Scored])]()

  private def ms[T](f: => T): Double =
    try Timed(f)._2 * 1000 catch { case scala.util.control.NonFatal(_) => Double.NaN }

  /** `f` over `qs` on one thread per core, as the cached phase runs. */
  private def parallel[T](qs: Seq[Q])(f: Q => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.nproc)
    try qs.map(q => pool.submit(() => f(q))).map(_.get)
    finally pool.shutdown()
  }

  /** Each warm-up pass below is one whole round of its queries, so every
    * pass has the same class mix. The first cached pass fills the view's
    * caches, on one thread per core because each of its queries still
    * launches scans; its answers are what every later cached request must
    * return. Later passes run on one thread, as the measured phase does.
    */
  def warmCached(passes: Int): Seq[Double] =
    ctx.warm(passes) { pass =>
      def one(q: Q) = Timed(scala.util.Try(
        ctx.call("engine.search", "warmup")(Queries.run(eng, q))))
      val res = if (pass == 0) parallel(cached)(one) else cached.map(one)
      if (pass == 0) expected = res.map(_._1.getOrElse(Array.empty[Wand.Scored])).toArray
      res.map { case (r, s) => if (r.isSuccess) s * 1000 else Double.NaN }
    }

  def warmUncached(passes: Int): Seq[Double] =
    ctx.warm(passes)(_ =>
      Queries.OneScanCycle.map(_ => ms(Queries.run(eng, warmStream.next()))))

  /** Closed loop, one client, `rounds` rounds of the cached set. With one
    * client per core, the clients, the collector and the host's other
    * tenants shared the same cores, and the phase's figures moved by a
    * quarter between runs of the same code.
    */
  def cachedPhase(rounds: Int): Double =
    ctx.closedLoop("cached", rounds * cached.length) { i =>
      val idx = i % cached.length
      val q = cached(idx)
      ctx.request("cached", q.cls, s"cached:$i", "engine.search")(
        Queries.run(eng, q))(Queries.same(_, expected(idx)))
    }

  /** Closed loop, one client, `rounds` rounds of distinct queries. */
  def uncachedPhase(rounds: Int): Double =
    ctx.closedLoop("uncached", rounds * Queries.OneScanCycle.length) { i =>
      uncached(measured.next(), s"uncached:$i")
    }

  /** One distinct query of each class the timed phase leaves out, for the
    * per-class medians of a traced run (phase "expansion").
    */
  def expansionRound(): Unit =
    Queries.StreamCycle.filterNot(Queries.OneScanClasses.contains).zipWithIndex
      .foreach { case (c, i) => uncached(measured.of(c), s"expansion:$i", "expansion") }

  private def uncached(q: Q, reqId: String, phase: String = "uncached"): Unit =
    ctx.request(phase, q.cls, reqId, "engine.search")(Queries.run(eng, q))(
      Queries.wellFormed(_)).foreach(r => uncachedDone.add((reqId, q, r)))

  /** Record the driver engine's answers to the distributed set: the
    * distributed path must return the same.
    */
  def expectDistributed(): Unit =
    distExpected = distQs.map(q => Queries.run(eng, q)).toArray

  def warmDistributed(dist: QueryEngine, passes: Int): Seq[Double] =
    ctx.warm(passes)(_ => distQs.map(q => ms(Queries.run(dist, q))))

  /** Closed loop, one client, `rounds` rounds of the distributed set. Every
    * answer must equal the driver engine's.
    */
  def distributedPhase(dist: QueryEngine, rounds: Int): Double =
    ctx.closedLoop("distributed", rounds * distQs.length) { i =>
      val idx = i % distQs.length
      val q = distQs(idx)
      ctx.request("distributed", q.cls, s"distributed:$i", "engine.search.distributed")(
        Queries.run(dist, q))(Queries.same(_, distExpected(idx)))
    }

  /** WAND against `searchExhaustive` on a seeded sample: same docIds, same
    * order, bit-identical scores. A mismatch fails the request it checks.
    */
  def checkExhaustive(nCached: Int, nUncached: Int): Unit = {
    val r = new java.util.SplittableRandom(seed * 7 + 5)
    (0 until nCached).map(_ => r.nextInt(cached.length)).distinct.foreach { idx =>
      val q = cached(idx)
      val ex = Queries.runExhaustive(eng, q)
      rec.check(s"exhaustive:cached:$idx", Queries.same(ex, expected(idx)),
        s"WAND != exhaustive for $q")
    }
    val done = uncachedDone.asScala.toIndexedSeq.sortBy(_._1)
    if (done.nonEmpty)
      (0 until nUncached).map(_ => done(r.nextInt(done.length))).distinct.foreach {
        case (reqId, q, got) =>
          if (!Queries.same(Queries.runExhaustive(eng, q), got))
            rec.failAfter(reqId, s"WAND != exhaustive for $q")
      }
  }
}
