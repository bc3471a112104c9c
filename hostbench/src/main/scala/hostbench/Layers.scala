package hostbench

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexLayout, PostingCodec}
import graft.query.{QueryEngine, QueryParser, QueryResolve, Wand}

/** Per-layer measurements of a traced run, named after the engine's
  * modules. Everything is measured from outside: timed calls into each
  * layer's public functions, and the benchmark's own job listener.
  */
object Layers {

  /** Expander for queries that need no dictionary expansion. */
  private object NoExpansion extends QueryResolve.Expander {
    private def no = throw new IllegalStateException("query needs expansion")
    def prefix(key: String): Seq[String] = no
    def fuzzy(key: String, maxEdits: Int): Seq[String] = no
    def wildcard(key: String): Seq[String] = no
    def range(fieldPfx: String, lo: Option[String], hi: Option[String],
        incLo: Boolean, incHi: Boolean): Seq[String] = no
  }

  private def medianOf(reps: Int)(f: => Unit): Double =
    Stats.median((1 to reps).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble })

  /** Re-call the decomposed layers on the same inputs for the plain (no
    * expansion, no filter) queries: QueryParser.parse, postingsFor(..)
    * .collect(), Wand.topK over the collected segments, and
    * PostingCodec.decodeAll.
    */
  def decomposed(ctx: Ctx, eng: QueryEngine, qs: Seq[Q]): Unit = {
    val plain = qs.filter(_.plain)
    if (plain.isEmpty) return
    val stats = eng.stats
    val avgdl = Wand.FieldAvgdl(stats.avgdl, stats.titleAvgdl)
    val rows = plain.zipWithIndex.map { case (q, i) =>
      val reqId = s"decomposed:$i"
      ctx.tracer.span("request.decomposed", reqId) {
        val parseNs = ctx.call("QueryParser.parse", reqId)(medianOf(21)(
          QueryParser.parse(q.q, "text", q.qOp, q.qf, q.tie)))
        val ast = QueryParser.parse(q.q, "text", q.qOp, q.qf, q.tie)
        val rq = QueryResolve.resolve(ast, NoExpansion)
        val terms = (rq.scoringTerms ++ rq.clauses.flatMap(_.notTerms)).distinct
        val (segs, scanS) = Timed(ctx.call("engine.postingsFor", reqId)(
          eng.postingsFor(terms).collect()))
        val byTerm = segs.toSeq.groupBy(_.term)
        val dfByTerm = byTerm.map { case (t, ss) => t -> ss.map(_.count.toLong).sum }
        val wandNs = ctx.call("Wand.topK", reqId)(medianOf(11)(
          Wand.topK(byTerm, dfByTerm, rq.scoringTerms, rq.clauses, stats.n,
            avgdl, Queries.K, 0L, Long.MaxValue, None, rq.boosts, None,
            rq.groups, rq.tie)))
        val decodeNs = ctx.call("PostingCodec.decodeAll", reqId)(medianOf(5)(
          segs.foreach(PostingCodec.decodeAll)))
        val postings = segs.map(_.count.toLong).sum
        val bytes = segs.map(s => s.docIdsVb.length + s.tfsVb.length +
          s.dlsVb.length + s.posVb.length).sum
        (parseNs / 1e3, scanS * 1000, wandNs / 1e3, decodeNs, postings,
          segs.length, segs.map(_.blockLastDocId.length).sum, bytes)
      }
    }
    ctx.layer("parser.parse_us") = Stats.median(rows.map(_._1))
    ctx.layer("engine.scan_ms") = Stats.median(rows.map(_._2))
    ctx.layer("wand.topk_us") = Stats.median(rows.map(_._3))
    val postings = rows.map(_._5).sum
    ctx.layer("codec.decode_ns_per_posting") =
      if (postings == 0) 0.0 else rows.map(_._4).sum / postings
    ctx.layer("wand.postings_per_query") = Stats.mean(rows.map(_._5.toDouble))
    ctx.layer("engine.segments_per_query") = Stats.mean(rows.map(_._6.toDouble))
    ctx.layer("wand.blocks_per_query") = Stats.mean(rows.map(_._7.toDouble))
    ctx.layer("engine.postings_bytes_per_query") = Stats.mean(rows.map(_._8.toDouble))
  }

  /** Time the build's first two steps as separate calls on the same corpus. */
  def buildSteps(ctx: Ctx, docs: Long, seed: Long): Unit = {
    val ((idDocs, release, _), assignS) = Timed(ctx.call("IndexBuilder.assignDocIds", "build.steps")(
      IndexBuilder.assignDocIds(ctx.spark, CorpusGen.generate(ctx.spark, docs, seed))))
    val (_, tfS) = Timed(ctx.call("IndexBuilder.tfRowsOf", "build.steps")(
      IndexBuilder.tfRowsOf(idDocs).count()))
    release()
    ctx.layer("build.assign_docids_s") = assignS
    ctx.layer("build.tf_rows_s") = tfS
  }

  /** Write-path values from the recorder: the append batches, the
    * deletes and the queries around them (none on `search`).
    */
  def writes(ctx: Ctx): Unit = {
    val appendMs = ctx.rec.okMs("append")
    ctx.layer("append_p50_s") = Stats.median(appendMs) / 1000
    ctx.layer("append_max_s") = if (appendMs.isEmpty) Double.NaN else appendMs.max / 1000
    ctx.layer("deletes.ms") = Stats.median(ctx.rec.okMs("delete"))
    ctx.layer("refresh_query_p50_ms") = Stats.median(ctx.rec.okMs("refresh"))
    ctx.layer("ingest_query_p50_ms") = Stats.median(ctx.rec.okMs("deletecheck"))
  }

  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val w = java.nio.file.Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally w.close()
    }
  }

  private def treeBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val w = java.nio.file.Files.walk(p)
      try w.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally w.close()
    }

  private def parquetFiles(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val w = java.nio.file.Files.walk(p)
      try w.filter(f => f.toString.endsWith(".parquet")).count()
      finally w.close()
    }

  /** On-disk bytes of the live index: published segment dirs plus the
    * global tombstones. Records the storage and layout layer metrics.
    */
  def layout(ctx: Ctx, dir: String): Long = {
    val segs = IndexLayout.current(ctx.spark, dir).getOrElse(Nil)
    val root = java.nio.file.Paths.get(dir)
    ctx.layer("layout.generations") = segs.length
    ctx.layer("layout.tombstone_files") =
      IndexLayout.tombstonePaths(ctx.spark, dir, segs)
        .map(p => parquetFiles(java.nio.file.Paths.get(p))).sum.toDouble
    def bytesOf(sub: String): Double =
      segs.map(s => treeBytes(root.resolve(s).resolve(sub))).sum.toDouble
    ctx.layer("layout.postings_bytes") = bytesOf("postings")
    ctx.layer("layout.docs_bytes") = bytesOf("docs")
    val live = segs.map(s => treeBytes(root.resolve(s))).sum + treeBytes(root.resolve("tombstones"))
    ctx.layer("layout.live_bytes") = live.toDouble
    live
  }

  /** Job-listener metrics of the read phases and the build. */
  def fromJobs(ctx: Ctx): Unit = ctx.probe.foreach { p =>
    val byReq = ctx.jobsByReq
    def tots(phase: String): Seq[(Sample, JobTotals)] =
      ctx.rec.all.filter(s => s.ok && s.phase == phase)
        .map(s => s -> JobTotals.of(p, byReq.getOrElse(s.reqId, Nil)))
    def put(k: String, v: Double): Unit = ctx.layer(k) = if (v.isNaN) 0.0 else v

    val c = tots("cached")
    put("cached.jobs_per_query", Stats.mean(c.map(_._2.jobs.toDouble)))
    put("engine.zero_job_frac",
      if (c.isEmpty) 0.0 else c.count(_._2.jobs == 0).toDouble / c.length)
    put("engine.driver_ms", Stats.median(c.map { case (s, t) => s.ms - t.wallMs }))

    val u = tots("uncached")
    put("engine.jobs_per_query", Stats.mean(u.map(_._2.jobs.toDouble)))
    put("engine.tasks_per_query", Stats.mean(u.map(_._2.tasks.toDouble)))
    put("engine.job_wall_ms", Stats.median(u.map(_._2.wallMs)))
    put("engine.executor_run_ms", Stats.median(u.map(_._2.runMs)))
    put("engine.input_bytes", Stats.median(u.map(_._2.inputBytes)))

    val d = tots("distributed")
    put("dist.jobs_per_query", Stats.mean(d.map(_._2.jobs.toDouble)))
    put("dist.stages_per_query", Stats.mean(d.map(_._2.stages.toDouble)))
    put("dist.job_wall_ms", Stats.median(d.map(_._2.wallMs)))
    put("dist.executor_run_ms", Stats.median(d.map(_._2.runMs)))
    put("dist.shuffle_bytes", Stats.median(d.map(_._2.shuffleWriteBytes)))

    val b = JobTotals.of(p, byReq.getOrElse("build", Nil))
    put("build.jobs", b.jobs)
    put("build.tasks", b.tasks)
    put("build.executor_run_s", b.runMs / 1000)
    put("build.executor_cpu_s", b.cpuS)
    put("build.gc_s", b.gcMs / 1000)
    put("build.shuffle_write_bytes", b.shuffleWriteBytes)
    put("build.output_bytes", b.outputBytes)
    put("build.task_skew", b.maxTaskSkew)

    // append batches: jobs launched from Compaction belong to the merge
    val batches = byReq.filter(_._1.startsWith("append:")).values.toSeq
    val (comp, app) = batches.map(_.partition(_.callSite.contains("graft.index.Compaction"))).unzip
    val appT = app.map(JobTotals.of(p, _))
    put("append.jobs", Stats.mean(appT.map(_.jobs.toDouble)))
    put("append.executor_run_s", Stats.mean(appT.map(_.runMs / 1000)))
    put("append.shuffle_write_bytes", Stats.mean(appT.map(_.shuffleWriteBytes)))
    put("append.output_bytes", Stats.mean(appT.map(_.outputBytes)))
    put("append.gc_s", Stats.mean(appT.map(_.gcMs / 1000)))
    val compT = JobTotals.of(p, comp.flatten)
    put("compact.fired", comp.count(_.nonEmpty))
    put("compact.jobs", compT.jobs)
    put("compact.executor_run_s", compT.runMs / 1000)
    put("compact.bytes_rewritten_per_live_byte",
      compT.outputBytes / math.max(1.0, ctx.layer.getOrElse("layout.live_bytes", 1.0)))
  }

  /** Per-class medians of the read phases (from the recorder); the
    * uncached ones include a traced run's expansion round.
    */
  def classMedians(ctx: Ctx): Unit =
    for (ph <- Seq("cached", "uncached"); c <- Queries.Classes) {
      val ms = ctx.rec.okMs(ph, c) ++ (if (ph == "uncached") ctx.rec.okMs("expansion", c) else Nil)
      val v = Stats.median(ms)
      ctx.layer(s"$ph.class.$c.p50_ms") = if (v.isNaN) 0.0 else v
    }
}
