package hostbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload search|ingest_mixed --seed N --seconds S
  * --trace 0|1 --work DIR --out DIR [--commit ID]`. Prints a facts line and,
  * last, the result: the run's counts and every value it measured, the
  * end-to-end ones with `--trace 0` and the per-layer ones with `--trace 1`.
  * `run.py` builds and launches this, and picks from the values the metrics
  * BENCHMARK.json names.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val offsetNs = startNs - System.currentTimeMillis() * 1000000L
    val opts = Opts.parse(args)
    require(Set("search", "ingest_mixed").contains(opts.workload),
      s"unknown workload ${opts.workload}")
    val jiffies0 = HostFacts.cpuJiffies
    val canary0 = Canary.runSec()
    val setupStartNs = System.nanoTime()
    val nproc = Runtime.getRuntime.availableProcessors()
    val master = s"local[$nproc]"
    val (spark, sessionS) = Timed(SparkSession.builder()
      .master(master).appName(s"hostbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(opts.trace)
    val probe = if (opts.trace) Some(new JobProbe) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, opts, tracer, probe, new Recorder)

    val outcome = tracer.span(s"workload.${opts.workload}", "workload") {
      if (opts.workload == "search") Workloads.search(ctx, setupStartNs)
      else Workloads.ingest(ctx, setupStartNs)
    }
    probe.foreach { p =>
      p.drain(spark.sparkContext)
      Layers.fromJobs(ctx)
      ctx.addJobSpans(offsetNs)
    }
    Layers.classMedians(ctx)
    Layers.writes(ctx)
    val canary1 = Canary.runSec()
    ctx.layer("host.canary_s") = (canary0 + canary1) / 2
    val jiffies1 = HostFacts.cpuJiffies
    val stealFrac = (jiffies1._1 - jiffies0._1).toDouble /
      math.max(1L, jiffies1._2 - jiffies0._2)
    // a per-layer value whose layer this workload does not exercise reads 0
    ctx.layer.mapValuesInPlace((_, v) => if (v.isNaN) 0.0 else v)
    val e2e = outcome.e2e

    val rec = ctx.rec
    rec.errors.take(20).foreach(s =>
      System.err.println(s"[hostbench] FAILED ${s.phase}/${s.cls} ${s.reqId}: ${s.error}"))
    val facts = Seq(
      "workload" -> Json.str(opts.workload), "seed" -> opts.seed.toString,
      "seconds" -> Json.num(opts.seconds), "trace" -> opts.trace.toString,
      "nproc" -> nproc.toString, "mem_total_kb" -> HostFacts.memTotalKb.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark_master" -> Json.str(master), "commit" -> Json.str(opts.commit),
      "canary_s" -> s"[${Json.num(canary0)},${Json.num(canary1)}]",
      "steal_frac" -> Json.num(stealFrac), "session_start_s" -> Json.num(sessionS),
      "peak_rss_mb" -> Json.num(HostFacts.peakRssMb)) ++
      (if (opts.trace) Seq("spans" -> tracer.all.length.toString) else Nil) ++
      outcome.facts.map { case (k, v) => k -> (if (v.startsWith("[")) v else Json.str(v)) }
    println("HOSTBENCH_FACTS " + Json.obj(facts))

    val out = Paths.get(opts.out)
    Files.createDirectories(out)
    val stem = s"${opts.workload}-seed${opts.seed}"
    val e2eJson = Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    Files.writeString(out.resolve(s"$stem.samples.tsv"), rec.all.map(s =>
      s"${s.phase}\t${s.cls}\t${s.reqId}\t${s.ms}\t${s.ok}").mkString("", "\n", "\n"))
    if (!opts.trace) Files.writeString(out.resolve(s"$stem.e2e.json"), e2eJson)
    else TraceReport.write(ctx, out, stem, e2e)

    val values = if (opts.trace) Json.obj(ctx.layer.toSeq.map { case (k, v) => k -> Json.num(v) })
      else e2eJson
    val attempted = math.max(1, rec.attempted)
    println("HOSTBENCH_RESULT " + Json.obj(Seq(
      "correct" -> (rec.failed == 0).toString,
      "attempted" -> attempted.toString, "failed" -> rec.failed.toString,
      "values" -> values)))
    spark.stop()
  }
}

/** Files of a traced run: spans as JSON lines, and a table of per-layer
  * values, span self times and the tracing overhead.
  */
object TraceReport {
  def write(ctx: Ctx, out: java.nio.file.Path, stem: String,
      tracedE2e: Map[String, Double]): Unit = {
    ctx.tracer.writeJsonLines(out.resolve(s"$stem.spans.jsonl"))
    val sb = new StringBuilder
    sb.append(s"# per-layer metrics: $stem\n\n")
    ctx.layer.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append(f"$k%-40s $v%16.4f\n")
    }
    sb.append("\n# span self time (ms)\n\n")
    sb.append(f"${"span"}%-40s ${"count"}%8s ${"total_ms"}%12s ${"self_ms"}%12s\n")
    ctx.tracer.selfTimes.foreach { case (n, c, tot, self) =>
      sb.append(f"$n%-40s $c%8d $tot%12.1f $self%12.1f\n")
    }
    sb.append("\n# tracing overhead: traced minus untraced, same workload and seed\n\n")
    val untraced = out.resolve(s"$stem.e2e.json")
    if (!Files.exists(untraced)) sb.append("(no untraced run of this workload and seed found)\n")
    else {
      val m = """"([a-z0-9_.]+)":(-?[0-9.eE+-]+|null)""".r
        .findAllMatchIn(Files.readString(untraced)).map(x => x.group(1) -> x.group(2)).toMap
      tracedE2e.toSeq.sortBy(_._1).foreach { case (k, t) =>
        val base = m.get(k).filter(_ != "null").map(_.toDouble).getOrElse(Double.NaN)
        sb.append(f"$k%-32s untraced ${base}%12.4f traced ${t}%12.4f delta ${t - base}%+12.4f\n")
      }
    }
    Files.writeString(out.resolve(s"$stem.layers.txt"), sb.toString)
    System.err.print(sb.toString)
  }
}
