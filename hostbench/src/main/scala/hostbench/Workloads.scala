package hostbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.corpus.CorpusGen
import graft.index.{BuildReport, IndexBuilder, IndexConf, IndexLayout}
import graft.query.QueryEngine

/** What a workload hands back: its end-to-end values and run facts. */
final case class Outcome(e2e: Map[String, Double], facts: Seq[(String, String)])

/** Sizes and phase lengths. Chosen so that one run of either workload,
  * set-up included, stays near a minute on a 4-core host.
  */
object Plan {
  /** The first build in a JVM is mostly JIT and plan compilation (~15 s at
    * any size up to 5,000 docs); a small build of its own takes that cost
    * so that the timed build is a warm one.
    */
  val WarmupDocs = 2000L
  /** The timed base build. Its per-doc work (about 0.25 ms a doc on 4
    * cores) is close to half its wall, against a tenth for a cold 5,000-doc
    * build; a build where it dominates (100,000 docs, ~45 s) does not fit a
    * one-minute run.
    */
  val BaseDocs = 15000L
  /** Seed of the corpus: the repository's fixture corpus (FIXTURES.md
    * section 1). `--seed` draws the requests instead: the distinct
    * queries, the urls each ingest batch re-sends, the delete terms and
    * the checked samples. With the corpus drawn from `--seed` as well,
    * most of the spread over seeds came from the corpora: the seeds that
    * read slowest and fastest on `ingest_mixed` kept their 20 % gap when
    * run again.
    */
  val CorpusSeed: Long = CorpusGen.DefaultSeed
  /** The read phases, cached, uncached and distributed, as
    * [[ReadPhase]]s. On `search` a round takes about 0.3 s cached (32
    * queries), 0.75 s uncached (9) and 1.2 s distributed (4); on
    * `ingest_mixed`, where every read also scans the tombstones, about
    * 0.9 s (11), 2.1 s (9) and 0.45 s (1). The single-threaded cached
    * phase of `search` moved most with the host between runs, so it gets
    * the most rounds.
    */
  val SearchPhases = Seq(ReadPhase(10, 4), ReadPhase(4, 2), ReadPhase(2, 3))
  val IngestPhases = Seq(ReadPhase(2, 2), ReadPhase(1, 1), ReadPhase(5, 4))
  val IngestBatches = 2
  val NewPerBatch = 300
  val ResentPerBatch = 100
  val DeletesPerBatch = 5
  /** Auto-compaction threshold of the ingest workload: a merge fires in the
    * second batch (see README.md).
    */
  val IngestAutoCompact = 2
}

/** One read phase: the rounds of its queries it runs at `--seconds 6`,
  * in proportion for other values, and its warm-up passes (whole rounds,
  * untimed). The work is fixed rather than the time: the engine's
  * latencies keep falling for minutes (cached rounds on `search` went from
  * 9.3 to 5.3 ms over 7.5 s), so a phase that ran for a fixed time
  * measured further down that curve on a faster run.
  */
final case class ReadPhase(roundsAt6s: Int, warmPasses: Int) {
  def rounds(seconds: Double): Int = math.max(1, math.round(roundsAt6s * seconds / 6).toInt)
}

object Workloads {

  /** The three read phases over `dir` (cached, uncached, distributed),
    * each right after its own warm-up: a phase that followed another
    * phase's requests ran its first requests slow again. Returns the
    * end-to-end read metrics.
    */
  private def readPhases(ctx: Ctx, reads: Reads, dir: String,
      phases: Seq[ReadPhase]): Map[String, Double] = {
    val s = ctx.opts.seconds
    val Seq(c, u, d) = phases
    val dist = new QueryEngine(ctx.spark, dir, driverWandMaxSegments = 0)
    reads.expectDistributed()
    def warmed(name: String, passes: Seq[Double]): Unit =
      ctx.mark(s"$name warm-up pass medians (ms) " + passes.map(m => f"$m%.0f").mkString(","))
    warmed("cached", reads.warmCached(c.warmPasses))
    val cachedWall = reads.cachedPhase(c.rounds(s))
    warmed("uncached", reads.warmUncached(u.warmPasses))
    reads.uncachedPhase(u.rounds(s))
    warmed("distributed", reads.warmDistributed(dist, d.warmPasses))
    reads.distributedPhase(dist, d.rounds(s))
    ctx.mark("phases done")

    val rec = ctx.rec
    // tails vary too much between runs on a shared host to bound them
    ctx.layer("cached.p95_ms") = Stats.quantile(rec.okMs("cached"), 0.95)
    ctx.layer("uncached.p90_ms") = Stats.quantile(rec.okMs("uncached"), 0.90)
    Map(
      "cached_qps" -> rec.okMs("cached").length / cachedWall,
      "cached_p50_ms" -> Stats.median(rec.okMs("cached")),
      "uncached_p50_ms" -> Stats.median(rec.okMs("uncached")),
      "distributed_p50_ms" -> Stats.median(rec.okMs("distributed")))
  }

  private def facts(ctx: Ctx, n: Long, buildS: Double): Seq[(String, String)] =
    Seq("cached", "uncached", "distributed", "append", "refresh").map { ph =>
      s"samples_$ph" -> ctx.rec.okMs(ph).length.toString
    } ++ Seq("docs" -> n.toString, "build_s" -> buildS.toString)

  /** A build of [[Plan.WarmupDocs]] docs, deleted after, then the timed
    * build of the corpus index as one request tagged "build".
    */
  private def build(ctx: Ctx, n: Long, dir: String,
      conf: IndexConf): (BuildReport, Double) = {
    val warmDir = ctx.scratch("ix-warmup")
    ctx.call("IndexBuilder.build", "build.warmup")(IndexBuilder.build(ctx.spark,
      CorpusGen.generate(ctx.spark, Plan.WarmupDocs, Plan.CorpusSeed + 1), warmDir, conf))
    Layers.deleteTree(warmDir)
    ctx.mark("warm-up build done")
    val (r, s) = Timed(ctx.call("IndexBuilder.build", "build")(
      IndexBuilder.build(ctx.spark, CorpusGen.generate(ctx.spark, n, Plan.CorpusSeed), dir, conf)))
    ctx.layer("build.terms") = r.terms.toDouble
    ctx.layer("build.postings") = r.postings.toDouble
    ctx.layer("build.segments") = r.segments.toDouble
    (r, s)
  }

  private def open(ctx: Ctx, dir: String): QueryEngine = {
    val (eng, s) = Timed(new QueryEngine(ctx.spark, dir))
    ctx.layer("engine.open_ms") = s * 1000
    eng
  }

  private def utf8Bytes(s: String): Long =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong

  /** UTF-8 bytes of the text of the corpus's first `n` docs. */
  private def corpusTextBytes(ctx: Ctx, n: Long): Long =
    CorpusGen.generate(ctx.spark, n, Plan.CorpusSeed)
      .selectExpr("sum(octet_length(text))").head().getLong(0)

  /** Traced runs only: the decomposed layer calls and the build steps. */
  private def traceLayers(ctx: Ctx, reads: Reads, n: Long): Unit =
    if (ctx.tracer.enabled) {
      Layers.decomposed(ctx, reads.eng,
        reads.cached ++ reads.uncachedDone.asScala.map(_._2).take(24))
      Layers.buildSteps(ctx, n, Plan.CorpusSeed)
    }

  /** `search`: the corpus index, then the read phases over it. */
  def search(ctx: Ctx, setupStartNs: Long): Outcome = {
    val seed = ctx.opts.seed
    val dir = ctx.scratch("ix-search")
    val n = Plan.BaseDocs
    val (_, buildS) = build(ctx, n, dir, IndexConf())
    val reads = new Reads(ctx, open(ctx, dir), seed, Queries.Cached,
      distributedQueries = 4)
    val setupS = (System.nanoTime() - setupStartNs) / 1e9
    ctx.mark("set-up done")

    val readE2e = readPhases(ctx, reads, dir, Plan.SearchPhases)
    reads.checkExhaustive(nCached = 2, nUncached = 2)
    ctx.mark("checks done")
    if (ctx.tracer.enabled) reads.expansionRound()
    val indexBytes = Layers.layout(ctx, dir)
    val textBytes = corpusTextBytes(ctx, n)
    traceLayers(ctx, reads, n)
    Outcome(
      Map("setup_s" -> setupS, "build_docs_per_s" -> n / buildS,
        "index_bytes_per_input_byte" -> indexBytes.toDouble / textBytes) ++ readE2e,
      facts(ctx, n, buildS))
  }

  /** `ingest_mixed`: a timed full build, then append batches that re-send
    * some existing urls, each followed by the first query after the
    * publish, one deleteByQuery and a check query, through one long-lived
    * engine; then the read phases over the resulting index.
    */
  def ingest(ctx: Ctx, setupStartNs: Long): Outcome = {
    val seed = ctx.opts.seed
    val spark = ctx.spark
    import spark.implicits._
    val dir = ctx.scratch("ix-ingest")
    val n = Plan.BaseDocs
    val conf = IndexConf(autoCompactGenerations = Plan.IngestAutoCompact)
    val (_, buildS) = build(ctx, n, dir, conf)
    val eng = open(ctx, dir)
    val setupS = (System.nanoTime() - setupStartNs) / 1e9
    ctx.mark("set-up done")

    val r = new java.util.SplittableRandom(seed * 13 + 11)
    // the last event of every url touched, for the output checks
    val lastEvent = mutable.HashMap.empty[String, String] // "send" | "delete"
    val newUrls = mutable.ArrayBuffer.empty[String]
    var appended = 0L
    var appendedTextBytes = 0L
    var compactions = 0
    var gens = IndexLayout.current(spark, dir).map(_.length).getOrElse(0)
    for (b <- 0 until Plan.IngestBatches) {
      val fresh = (0 until Plan.NewPerBatch).map(k => n + b.toLong * Plan.NewPerBatch + k)
      val resent = (0 until Plan.ResentPerBatch).map(_ => r.nextLong(n)).distinct
      val ids = fresh ++ resent
      val batchDocs = ids.map(i => CorpusGen.doc(Plan.CorpusSeed, i, n))
      batchDocs.foreach(d => lastEvent(d.url) = "send")
      newUrls ++= batchDocs.take(fresh.length).map(_.url)
      appendedTextBytes += batchDocs.map(d => utf8Bytes(d.text)).sum
      val ds = spark.createDataset(ids).map(i => CorpusGen.doc(Plan.CorpusSeed, i, n))
      ctx.request("append", "append", s"append:$b", "IndexBuilder.append")(
        IndexBuilder.append(spark, ds, dir, conf))(_ => true)
      ctx.mark(s"batch $b appended")
      appended += ids.length
      val g = IndexLayout.current(spark, dir).map(_.length).getOrElse(0)
      if (g < gens + 1) compactions += 1
      gens = g

      // the first query after the publish pays the view swap; its top hits
      // are what the deleteByQuery below removes
      val delQ = Q("term", f"w${r.nextInt(500)}%05d")
      val victims = ctx.request("refresh", "term", s"refresh:$b", "engine.search")(
        Queries.run(eng, delQ))(Queries.wellFormed(_))
        .getOrElse(Array.empty).take(Plan.DeletesPerBatch).map(_.docId)
      eng.docs.filter($"docId".isin(victims.toIndexedSeq: _*)).select($"url").as[String]
        .collect().foreach(u => lastEvent(u) = "delete")
      ctx.request("delete", "delete", s"delete:$b", "QueryEngine.deleteByQuery")(
        eng.deleteByQuery(delQ.q, Plan.DeletesPerBatch))(_ == victims.length)
      ctx.request("deletecheck", "term", s"deletecheck:$b", "engine.search")(
        Queries.run(eng, delQ))(res => !res.exists(s => victims.contains(s.docId)))
    }
    ctx.mark("ingest done")

    // every read here pays the tombstone view with Spark jobs, so the sets
    // are smaller: the first cached query of each class and one
    // distributed query
    val reads = new Reads(ctx, eng, seed,
      Queries.Classes.flatMap(c => Queries.Cached.find(_.cls == c)).toIndexedSeq,
      distributedQueries = 1)
    val readE2e = readPhases(ctx, reads, dir, Plan.IngestPhases)

    // output checks, outside the timed requests (the WAND-exhaustive
    // comparison runs on `search`; here the writes are what is checked)
    val visible = (0 until 2).map(_ => newUrls(r.nextInt(newUrls.length))).distinct
      .filter(u => lastEvent.get(u).contains("send"))
    visible.foreach { u =>
      ctx.rec.check(s"visible:$u", eng.realtimeGet(u).count() == 1, s"appended url $u not visible")
    }
    val deleted = lastEvent.filter(_._2 == "delete").keys.toSeq.sorted
    (0 until 2).map(_ => deleted(r.nextInt(deleted.length))).distinct.foreach { u =>
      ctx.rec.check(s"deleted:$u", eng.realtimeGet(u).count() == 0, s"deleted url $u still visible")
    }
    // urls embed a hash of their row index, so every doc has its own url:
    // the base docs and the new ones, less those last seen deleted
    val expectedLive = n + newUrls.length - deleted.length
    val live = eng.countMatches("*:*")
    ctx.rec.check("live-count", live == expectedLive, s"live docs $live != expected $expectedLive")

    val indexBytes = Layers.layout(ctx, dir)
    traceLayers(ctx, reads, n)
    val inputBytes = corpusTextBytes(ctx, n) + appendedTextBytes
    Outcome(
      Map("setup_s" -> setupS,
        "build_docs_per_s" -> n / buildS,
        "index_bytes_per_input_byte" -> indexBytes.toDouble / inputBytes) ++ readE2e,
      facts(ctx, n, buildS) ++ Seq("appended_docs" -> appended.toString,
        "compactions" -> compactions.toString, "live_docs" -> live.toString,
        "stats_n" -> eng.stats.n.toString, "generations" -> gens.toString))
  }
}
