package hostbench

import org.scalatest.funsuite.AnyFunSuite

import graft.query.{QueryParser, Wand}

class RecorderSpec extends AnyFunSuite {

  test("a request the parser rejects is failed and never a latency sample") {
    val rec = new Recorder
    val out = rec.run("uncached", "fuzzy", "r1")(QueryParser.parse("w00017~3"))()
    assert(out.isEmpty)
    assert(rec.attempted == 1)
    assert(rec.failed == 1)
    assert(rec.okMs("uncached").isEmpty)
    assert(rec.errors.head.error.nonEmpty)
  }

  test("a request whose output check fails is failed") {
    val rec = new Recorder
    rec.run("cached", "term", "r1")(Array(Wand.Scored(1L, 2.0)))(
      Queries.same(_, Array(Wand.Scored(1L, 2.5))))
    rec.run("cached", "term", "r2")(Array(Wand.Scored(1L, 2.0)))(
      Queries.same(_, Array(Wand.Scored(1L, 2.0))))
    assert(rec.attempted == 2)
    assert(rec.failed == 1)
    assert(rec.okMs("cached").length == 1)
  }

  test("a check after the timed window removes the request from the sample") {
    val rec = new Recorder
    rec.run("uncached", "term", "r1")(1)()
    rec.run("uncached", "term", "r2")(2)()
    rec.failAfter("r1", "WAND != exhaustive")
    assert(rec.attempted == 2)
    assert(rec.failed == 1)
    assert(rec.okMs("uncached").length == 1)
  }

  test("standalone checks count as failures but not as attempts") {
    val rec = new Recorder
    rec.check("live-count", ok = true, "unused")
    rec.check("visible:u", ok = false, "url not visible")
    assert(rec.attempted == 0)
    assert(rec.failed == 1)
  }

  test("result order check: score descending, docId ascending on ties") {
    assert(!Queries.wellFormed(Array(Wand.Scored(3, 2.0), Wand.Scored(2, 1.0),
      Wand.Scored(1, 1.0))))
    assert(!Queries.wellFormed(Array(Wand.Scored(3, 1.0), Wand.Scored(1, 2.0))))
    assert(Queries.wellFormed(Array(Wand.Scored(3, 2.0), Wand.Scored(1, 1.0),
      Wand.Scored(4, 1.0))))
  }

  test("quantiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.quantile(Nil, 0.5).isNaN)
  }

  test("distinct query stream never repeats a query") {
    val qs = new Queries.Distinct(7L, lane = 0).take(500).toSeq
    assert(qs.map(_.toString).distinct.length == qs.length)
    val warm = new Queries.Distinct(7L, lane = 1).take(500).map(_.toString).toSet
    assert(qs.forall(q => !warm.contains(q.toString)))
  }

  test("the cached set is the reference set minus the never-cached queries") {
    assert(Queries.NeverCached.subsetOf(Queries.Reference.toSet))
    assert(Queries.Cached.length == Queries.Reference.length - Queries.NeverCached.size)
    assert(Queries.Cached.map(_.cls).toSet == Queries.Classes.toSet)
  }

  test("the distinct stream weights each class by its reference queries") {
    val n = Queries.StreamCycle.groupBy(identity).map { case (c, xs) => c -> xs.length }
    assert(n == Map("term" -> 2, "bool" -> 3, "phrase" -> 2, "prefix" -> 1,
      "fuzzy" -> 1, "wildcard" -> 1, "range" -> 1, "filter" -> 1, "fq" -> 1,
      "qf" -> 1, "matchall" -> 1))
    val d = new Queries.Distinct(3L, lane = 0)
    val qs = d.take(Queries.OneScanCycle.length * 3).toSeq ++ Queries.StreamCycle.map(d.of)
    assert(qs.map(_.cls) ==
      Seq.fill(3)(Queries.OneScanCycle).flatten ++ Queries.StreamCycle)
    assert(qs.map(_.toString).distinct.length == qs.length)
    assert(qs.forall(q => !(q.q + q.fq.mkString).matches(".*w0(0|1)[0-9]{3}.*")))
  }
}
