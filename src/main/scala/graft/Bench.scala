package graft

import org.apache.spark.sql.SparkSession

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConf}
import graft.query.QueryEngine

/** Shared session/config for the bench mains. */
private[graft] object BenchCommon {
  def session(cpus: Int): SparkSession = {
    // SPARK_GRAFT_BENCH_MASTER overrides the master for methodology
    // experiments (e.g. "local-cluster[4,4,3072]" forks real executor JVMs)
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_BENCH_MASTER", s"local[$cpus]"))
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // zstd trades (scalable) CPU for (shared) shuffle bytes — on a
      // bandwidth-bound box it helps the small-vs-large-arm ratio, and at
      // cluster scale it cuts network/disk shuffle volume
      .config("spark.io.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Bench indexes live on tmpfs (not /tmp's real disk): index writes are
    * part of the timed build, and a shared spinning/virtual disk is a serial
    * cost that poisons the small-vs-large scaling ratio.
    */
  def freshDir(tag: String): String = {
    val base = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "/dev/shm/graft-bench"))
    java.nio.file.Files.createDirectories(base)
    val d = java.nio.file.Files.createTempDirectory(base, tag).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** Recursive delete of a bench scratch dir. Scratch lives on tmpfs, and
    * tmpfs pages ARE RAM: one full-bench day once accumulated 108 GiB of
    * arm index dirs under /dev/shm/graft-bench (deleteOnExit only covers
    * the empty tempdir root, and OOM-killed JVMs run no exit hooks), which
    * drove the box to 15 GiB free — the OOM killer then SIGKILLed an arm
    * mid-run, and the accumulating reclaim pressure inflated every later
    * run's CPU-seconds "uniformly across both arms" exactly like host
    * steal. Every consumer must delete its scratch as soon as the
    * measurement is parsed.
    */
  def deleteScratch(path: String): Unit = {
    import java.nio.file.{Files, Paths, Path}
    import java.util.Comparator
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  def timeS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One scaling-bench arm, run in its OWN JVM (forked by [[Bench]]): builds
  * the synthetic corpus index once at `local[cores]` and prints a marker
  * JSON line with the build wall time plus this process's CPU seconds (the
  * steal diagnostic — utilization = cpuSec / (wall × cores)).
  *
  * The parent confines this JVM with `taskset -c 0..cores-1` and
  * `-XX:ActiveProcessorCount=cores`, so GC threads, common pools and the
  * memory-bandwidth draw are all sized to the arm — a faithful sandbox proxy
  * for the north_rule's "N vs 4N executors on two cluster sizes": each arm
  * is a separately-confined slice of the machine, not two masters sharing
  * one 32-core JVM (which let the small arm borrow 32-core GC + pools).
  */
object BenchArm {

  /** Single-threaded pure-JVM canary (~0.5 s quiet): a fixed xxhash-style
    * mixing loop whose wall time depends ONLY on getting one core — run
    * before and after the timed build, it converts "was the box quiet?"
    * from an inference over utilization into a direct in-record measurement.
    */
  def canarySec(): Double = {
    val t0 = System.nanoTime()
    var acc = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 400000000L) {
      acc ^= i * 0xC2B2AE3D27D4EB4FL
      acc = java.lang.Long.rotateLeft(acc, 27) * 0x9E3779B97F4A7C15L
      i += 1
    }
    if (acc == 42L) println("") // defeat DCE
    (System.nanoTime() - t0) / 1e9
  }

  /** Single-threaded memory-bandwidth canary (GB/s, best of 3 sequential
    * sums over a 256 MiB long array). The ALU canary above cannot see
    * memory-bandwidth contention (measured 2026-08-17 13:04: both arms'
    * process-CPU at 2.2–2.8× quiet floor while every ALU canary read
    * 0.70–0.78 ≈ nominal — stall cycles count as occupied CPU but don't
    * slow a register-only loop); a streaming read measures the contended
    * resource directly. Recorded as evidence per arm, not yet a health
    * gate — thresholds need calibration across quiet/hostile windows.
    */
  private lazy val bwArr: Array[Long] = {
    val a = new Array[Long](1 << 25) // 256 MiB; first touch pays page zeroing
    var i = 0
    while (i < a.length) { a(i) = i; i += 1 }
    a
  }
  def bwGBs(): Double = {
    var best = 0.0
    var sink = 0L
    var r = 0
    while (r < 3) {
      val t0 = System.nanoTime()
      var s = 0L
      var i = 0
      while (i < bwArr.length) { s += bwArr(i); i += 1 }
      sink ^= s
      val gbs = (bwArr.length * 8.0 / (1L << 30)) /
        ((System.nanoTime() - t0) / 1e9)
      if (gbs > best) best = gbs
      r += 1
    }
    if (sink == 42L) println("") // defeat DCE
    best
  }

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val docs = args(1).toLong
    val dir = args(2)
    val conf = IndexConf(numBuckets = 32)
    val s = BenchCommon.session(cores)
    // warmup: each fresh JVM has a cold Janino/JIT cache — compile every
    // build plan on a tiny corpus first so the timed run measures the build
    IndexBuilder.build(s, CorpusGen.generate(s, 2000), s"$dir-warm", conf)
    BenchCommon.deleteScratch(s"$dir-warm") // tmpfs scratch is RAM
    canarySec() // JIT the canary loop itself
    bwGBs() // allocate + page-touch the bandwidth array outside the timing
    val osb = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val can0 = canarySec()
    val bw0 = bwGBs()
    val cpu0 = osb.getProcessCpuTime
    // 2 range-partitions per core by default: one-wave stages leave cores
    // idle behind the slowest task (hypervisor steal makes stragglers
    // common); two waves halve the tail at negligible task overhead
    val mult = sys.env.getOrElse("SPARK_GRAFT_BENCH_PARTS_MULT", "2").toInt
    val (_, wall) = BenchCommon.timeS {
      IndexBuilder.build(s, CorpusGen.generate(s, docs), dir,
        conf.copy(buildPartitions = cores * mult))
    }
    val cpu = (osb.getProcessCpuTime - cpu0) / 1e9
    val can1 = canarySec()
    val bw1 = bwGBs()
    println(f"""GRAFT_ARM_JSON {"cores":$cores,"docs":$docs,"buildSec":$wall%.2f,"cpuSec":$cpu%.1f,"canary0":$can0%.2f,"canary1":$can1%.2f,"bw0":$bw0%.1f,"bw1":$bw1%.1f}""")
    s.stop()
  }
}

/** Benchmark main (driver contract): one JSON line with
  *  - index-build throughput at two parallelism levels on the same synthetic
  *    corpus + scaling efficiency (the north_rule's N vs 4N criterion;
  *    see BASELINE.md for the measurement discipline),
  *  - headline operator timings on SPARK_GRAFT_SF_DIR (warm plans),
  *  - BM25 top-k latency p50 over the fixed query set (k=10), for both the
  *    driver fast path and the distributed windowed path.
  *
  * Output contract: the FINAL stdout line is the bare JSON object; the line
  * before it carries a `GRAFT_BENCH_JSON ` prefix for marker-scanning
  * parsers; `bench.json` in the working directory is the file copy.
  *
  * Kill-robustness (r5 — VERDICT r4 #1: the official r4 record was rc 124
  * with `parsed: null` because one emit() ran only at the very end): the
  * record is now emitted INCREMENTALLY — once at startup, after the
  * headline-ops section, after the latency section, and after EVERY
  * scaling pair — always as a complete well-formed JSON object with the
  * sections measured so far. An outer kill at any instant leaves the
  * newest marker line + bench.json as the best partial record instead of
  * nothing. Sections run CHEAP-FIRST (ops → latency → scaling): the
  * scaling loop's wall time is unbounded-variance (hostile pairs measured
  * ~10 min each), so it consumes whatever remains of the total budget
  * (`SPARK_GRAFT_BENCH_MAX_TOTAL_SEC`, default 2000 s) instead of starving
  * the sections that finish in minutes.
  *
  * Scaling methodology (the r2 record was noise — 9× spread between
  * identical arms): each rep runs the two arms BACK-TO-BACK in separately
  * `taskset`-confined child JVMs, a pair whose large arm is slower than its
  * small arm is flagged contended (32 confined cores strictly dominate 8 on
  * this workload, so t32 ≥ t8 is machine interference by construction, not
  * a property of the engine), and the best non-contended pair is reported
  * together with EVERY pair and its per-arm CPU utilization so the record
  * carries its own steal diagnostic.
  */
object Bench {
  import BenchCommon._

  private val headline = Seq(
    "q_bm25_topk", "q_tokenize_tf", "q_dedup_ngram", "q_topk_orders",
    "q_tombstone_anti", "q_parent_semi", "q_embed_cosine",
    "q_quality_score", "q_minhash_lsh",
    // r5 tail: Solr component analogs — the headline TOTAL is therefore
    // not comparable to pre-r5 records (3 more ops); per-op values
    // remain comparable across rounds
    "q_mlt", "q_facet_pivot", "q_highlight")

  private val goldenQueries = Seq(
    "w00017", "the", "w00017 w00342", "w00017 AND w00342",
    "\"w00017 w00342\"", "w00017 NOT w00342", "text:w01234",
    "lang:no AND w00099", "w49998", "w00001 w00002 w00003 w00004 w00005",
    // round-2 surface: stored-field/url filter, range, positional phrase
    "url:host3. w00017", "warc_ts:[2024-01-01T00:00:00Z TO 2024-01-05T00:00:00Z] w00017",
    "\"the of\"",
    // round-3 surface: boolean precedence, parens, prefix, title field
    "w00017 AND w00342 OR w00343", "w00017 AND (w00342 OR w00343)",
    "w0099*", "title:9999 w00017",
    // round-4 surface: phrase slop
    "\"the of\"~2", "\"w00017 w00342\"~3",
    // round-5 surface: boosts (term + fractional damping)
    "w00017^2 OR w00342", "the^0.1 w00017",
    // round-5 surface: fuzzy (DL dictionary expansion) + glob wildcards
    "w00017~1", "w00017~2 AND w00342", "w0001?", "w*17 AND the",
    // round-5 surface: term ranges (pure range-pushdown expansion)
    "text:[w00015 TO w00020]", "text:{w0001 TO w0002] AND the",
    // round-5 tail: Solr match-all (docs-scan TakeOrdered, no postings)
    "*:*")

  /** fq / q.op combos timed through the same driver path (round-5 tail):
    * the WARM-UP rep pays each fq's match-set job once, the timed reps hit
    * the per-view filterCache — the resident-engine latency Solr's
    * filterCache design promises.
    */
  private val fqLatencyQueries: Seq[(String, Seq[String], String)] = Seq(
    ("w00017 w00342", Seq("the"), "OR"),
    ("w00017 w00342", Seq("lang:no"), "AND"),
    // the canonical Solr shape (r5 tail): q=*:* + fq — timed warm, so the
    // record shows the driver sorted-array-intersection filterCache path
    ("*:*", Seq("lang:no"), "OR"),
    ("*:*", Seq("w00017 OR w00342"), "OR"))

  /** edismax qf/tie combos timed through the driver path (round-5 tail):
    * multi-field fan-out doubles the cursor count per bare term and the
    * tie<1 cases exercise the grouped scoreAt fold — the record shows what
    * the multi-field surface costs relative to the plain set.
    */
  private val qfLatencyQueries: Seq[(Seq[(String, Double)], Double, String)] =
    Seq(
      (Seq("text" -> 1.0, "title" -> 3.0), 0.0, "w00017 9999"),
      (Seq("text" -> 1.0, "title" -> 3.0), 0.3, "w00017 AND 42"),
      (Seq("text" -> 0.5, "title" -> 2.0), 1.0, "the 17"))

  /** Stopword-heavy queries whose posting sets exceed the driver threshold —
    * timed against a driverWandMaxSegments=0 engine so the 100×-relevant
    * distributed windowed path has a recorded latency.
    */
  private val distributedQueries = Seq(
    "the", "the of and", "the AND of", "w00017 the")

  private def emit(json: String): Unit = {
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench.json"), json)
    println(s"GRAFT_BENCH_JSON $json")
    println(json) // bare object as the final program line (driver contract)
  }

  // ---- forked scaling arms -------------------------------------------------

  private val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private[graft] final case class ArmResult(wallSec: Double, cpuSec: Double,
      canary0: Double, canary1: Double, bw0: Double, bw1: Double)

  private val ArmRe =
    """GRAFT_ARM_JSON \{"cores":\d+,"docs":\d+,"buildSec":([0-9.]+),"cpuSec":([0-9.]+),"canary0":([0-9.]+),"canary1":([0-9.]+),"bw0":([0-9.]+),"bw1":([0-9.]+)\}""".r

  /** Fork one confined arm JVM and parse its marker line. Heap is sized per
    * core (0.75 GiB/core — 24g at 32 cores, the measured optimum on this VM;
    * a cluster scale-out likewise carries memory with cores).
    */
  private def runArm(cores: Int, docs: Long): ArmResult = {
    val dir = freshDir(s"arm$cores-")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val heapGb = math.max(4, cores * 3 / 4)
    val taskset =
      if (new java.io.File("/usr/bin/taskset").exists())
        Seq("/usr/bin/taskset", "-c", s"0-${cores - 1}")
      else Seq.empty
    // Measured heap discipline on this VM (r3 A/B, 800k docs, 32 cores):
    // 24g = 37.0s, 12g = 32.7s, 8g = 40.8s — G1 kept compact beats both a
    // sprawling heap (fresh-page faults, CLAUDE.md rule 8) and a starved one
    // (GC pressure). -Xms/-XX:+AlwaysPreTouch made it WORSE (55.3s: pinning
    // the full heap makes G1 spread over it), and THP on this kernel's
    // madvise-defrag is pathological (55 CPU-minutes to touch 24g).
    val cmd = taskset ++ Seq(javaBin) ++ jdk17AddOpens ++ Seq(
      s"-XX:ActiveProcessorCount=$cores", s"-Xmx${heapGb}g",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"),
      "graft.BenchArm", cores.toString, docs.toString, dir)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.environment().put("SPARK_LOCAL_DIRS",
      sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
    val proc = pb.start()
    try {
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val rc = proc.waitFor()
      // relay the child's build-phase log to stderr (diagnostics, not contract)
      out.linesIterator.foreach(l => System.err.println(s"[arm$cores] $l"))
      require(rc == 0, s"arm$cores exited $rc")
      ArmRe.findFirstMatchIn(out) match {
        case Some(m) => ArmResult(m.group(1).toDouble, m.group(2).toDouble,
          m.group(3).toDouble, m.group(4).toDouble, m.group(5).toDouble,
          m.group(6).toDouble)
        case None => throw new IllegalStateException(
          s"arm$cores produced no GRAFT_ARM_JSON line")
      }
    } finally {
      // tmpfs scratch is RAM — never accumulate. The -warm sibling is the
      // child's; delete here too in case the child was killed mid-warmup.
      deleteScratch(dir)
      deleteScratch(s"$dir-warm")
    }
  }

  /** Quiet-floor process-CPU per document (ms/doc, either arm — quiet
    * pairs measure 0.69–0.86 across r4/r5 at 400k–800k docs) and the
    * tolerance factor above it at which a pair is classified slow-box.
    * This is the one ABSOLUTE reference in the health rule: uniform
    * memory-bandwidth contention inflates BOTH arms' CPU-seconds alike
    * (2026-08-17 13:04: cpu2 1436 s / cpu8 1901 s vs same-day quiet
    * floors 650/688 s for identical work), so every within-run check —
    * util, ALU canaries, within-pair cpu-ratio, run-relative floors —
    * passes while the box is 2× slow. CPU/doc is deterministic for a
    * fixed binary + corpus generator, which makes a committed floor
    * legitimate where a wall-time floor would not be. Floor 0 disables;
    * the check only applies at ≥200k docs (below that, fixed JVM+codegen
    * cost dominates per-doc CPU).
    */
  private[graft] val cpuFloorMsPerDoc = sys.env
    .getOrElse("SPARK_GRAFT_BENCH_CPU_FLOOR_MS_PER_DOC", "0.70").toDouble
  private[graft] val cpuFloorFactor = sys.env
    .getOrElse("SPARK_GRAFT_BENCH_CPU_FLOOR_FACTOR", "1.5").toDouble

  private[graft] final case class Pair(small: ArmResult, large: ArmResult,
      smallCores: Int, largeCores: Int, docs: Long) {
    val scale: Double = largeCores.toDouble / smallCores
    def eff: Double = small.wallSec / (scale * large.wallSec)
    /** The large arm strictly dominates the small one when both are actually
      * getting their cores; a slower large arm is machine interference.
      */
    def contended: Boolean = large.wallSec >= small.wallSec
    def utilSmall: Double = small.cpuSec / (small.wallSec * smallCores)
    def utilLarge: Double = large.cpuSec / (large.wallSec * largeCores)
    /** A pair is quiet-window healthy when the large arm sustained its
      * cores, both arms' single-thread canaries ran at nominal speed
      * (≤ 1.5× the best canary seen — canaries measure host steal
      * directly), AND neither arm's process-CPU seconds are inflated
      * (≤ 1.25× that arm's run-minimum). The CPU check catches what
      * canaries can miss: lock-holder preemption DURING the build inflates
      * CPU 40–90% (measured: quiet-floor cpu8 ≈ 610–670 s vs 920–1240 s
      * in hostile windows) while the before/after canaries sample only the
      * window edges.
      */
    /** The same job burns near-identical CPU at any width when the host is
      * quiet (measured quiet pairs: cpu8/cpu2 = 0.99–1.21); lock-holder
      * preemption inflates ONLY the wide arm (stolen pairs: 1.5–2.4×).
      * The within-pair ratio is the one steal signal that needs no
      * run-relative floor — it stays valid even when every window of a run
      * is hostile.
      */
    def cpuRatioOk: Boolean = large.cpuSec <= small.cpuSec * 1.35

    /** eff > 1 is as physically impossible on a quiet box as t_large ≥
      * t_small (N confined cores cannot be more than (N/M)× faster than
      * M): it means the SMALL arm was the one stolen from. The one-sided
      * cpu-ratio check cannot see that case (an all-hostile run measured
      * eff 1.10–1.12 with cpu2 at 2.5× its quiet floor while cpu8/cpu2
      * sat at 0.86–0.87, "passing"), and in such runs the run-relative CPU
      * floors are themselves inflated — superlinear eff is the one signal
      * of small-arm steal that needs no reference at all.
      */
    def effPossible: Boolean = eff <= 1.0

    /** True when either arm's process-CPU per doc exceeds the committed
      * quiet floor by more than the tolerance factor — the box was slow
      * for BOTH arms at once, and the pair's eff measures the contended
      * host, not the engine (see [[cpuFloorMsPerDoc]]).
      */
    def slowBox: Boolean =
      cpuFloorMsPerDoc > 0 && docs >= 200000L && {
        val lim = cpuFloorMsPerDoc * cpuFloorFactor
        small.cpuSec * 1000.0 / docs > lim ||
          large.cpuSec * 1000.0 / docs > lim
      }

    def healthy(bestCanary: Double, minCpuSmall: Double,
        minCpuLarge: Double): Boolean =
      !contended && effPossible && utilLarge >= 0.85 && cpuRatioOk &&
        !slowBox &&
        small.cpuSec <= minCpuSmall * 1.25 &&
        large.cpuSec <= minCpuLarge * 1.25 &&
        Seq(small.canary0, small.canary1, large.canary0, large.canary1)
          .forall(_ <= bestCanary * 1.5)
  }

  /** Wall and process-CPU seconds of one headline op run. */
  private[graft] final case class OpT(wall: Double, cpu: Double)

  /** Run each op once: the times of the ops that completed, and the message
    * of each op that threw. A failed op gets no time, so it can never pass
    * for a fast one or count towards the total.
    */
  private[graft] def timeOps(ops: Seq[String], cpuSec: () => Double)(
      run: String => Unit): (Seq[(String, OpT)], Seq[(String, String)]) = {
    val times = Seq.newBuilder[(String, OpT)]
    val errors = Seq.newBuilder[(String, String)]
    ops.foreach { q =>
      val cpu0 = cpuSec()
      try {
        val (_, t) = timeS(run(q))
        times += q -> OpT(t, cpuSec() - cpu0)
      } catch {
        case scala.util.control.NonFatal(e) =>
          errors += q -> s"${e.getClass.getName}: ${e.getMessage}"
      }
    }
    (times.result(), errors.result())
  }

  /** The record's `op_errors` member: failed op → its message. */
  private[graft] def opErrorsJson(errors: Seq[(String, String)]): String = {
    def str(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    errors.map { case (k, m) => s"${str(k)}:${str(m)}" }
      .mkString("\"op_errors\":{", ",", "}")
  }

  /** Exits non-zero when a headline op failed: its time is missing from the
    * record, so the record must not pass for a complete one.
    */
  def main(args: Array[String]): Unit = {
    val opErrors = run()
    if (opErrors.nonEmpty) {
      System.err.println("[graft-bench] headline ops failed: " +
        opErrors.map(_._1).mkString(", "))
      sys.exit(1)
    }
  }

  /** The bench sections; returns the headline ops that threw. */
  private def run(): Seq[(String, String)] = {
    val tStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - tStart) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // sized so the large arm runs ~40-60 s: below ~0.5M docs fixed costs
    // dominate the ratio (see BASELINE.md measurement notes)
    val benchDocs =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "800000").toLong
    val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH_MODE", "full")
    // hard ceiling on the WHOLE bench: sections that would overrun are
    // skipped (the record of the finished sections stands). Sized for a
    // ~45-min driver wall clock with margin.
    val totalBudgetSec = sys.env
      .getOrElse("SPARK_GRAFT_BENCH_MAX_TOTAL_SEC", "2000").toInt

    // ---- incremental record state: every section updates its slot and
    //      re-emits the full (well-formed) JSON + bench.json ----
    var buildJson = """"index_build":null"""
    var qsJson = "{}"
    var totalVal = 0.0
    var opsDiagJson = ""
    var latencyJson = ""
    var opErrors = Seq.empty[(String, String)]
    def emitRecord(): Unit = {
      val parts = Seq(s""""queries":$qsJson""", s""""sf":"$sfDir"""",
        buildJson) ++
        Option(opsDiagJson).filter(_.nonEmpty) ++
        Option(latencyJson).filter(_.nonEmpty) ++
        Option(opErrors).filter(_.nonEmpty).map(opErrorsJson)
      emit(f"""{"metric":"total","value":$totalVal%.3f,"unit":"sec",${parts.mkString(",")}}""")
    }
    emitRecord() // a parseable record exists from second zero
    // default arms 2,8 (N vs 4N per BASELINE.json's own example wording):
    // the widest pair whose LARGE arm sustains ≥0.85 CPU utilization on
    // this host — 16- and 32-wide arms burn 2-4× their idle-window CPU
    // seconds under the hypervisor's lock-holder preemption, so their
    // ratios measure the HOST's oversubscription, not the engine
    // (measured sweep in BASELINE.md round-3 notes; a real 4N cluster
    // carries 4N× memory bandwidth and suffers no cross-tenant LHP)
    val arms = sys.env.getOrElse("SPARK_GRAFT_BENCH_ARMS", "2,8")
      .split(",").map(_.trim.toInt)
    val Array(smallCores, largeCores) = arms
    // 4 paired reps by default: the hypervisor's steal regime shifts on a
    // ~10-minute scale, so more pairs = more chances that one lands in a
    // quiet window (the per-pair util fields expose which ones did)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "4").toInt
    val conf = IndexConf(numBuckets = 32)

    // ---- index-build scaling: paired, confined, child-JVM arms, with
    //      retry-until-quiet (VERDICT r3 item 1b): the hypervisor's steal
    //      regime shifts on a ~10-minute scale, so after `minPairs` base
    //      pairs, keep adding pairs (bounded by maxPairs) until one healthy
    //      pair clears the target — the record carries EVERY pair plus
    //      per-arm utilization and single-thread canary times, so a reader
    //      can audit which windows were quiet.
    //      Section ORDER (r5): scaling runs LAST in full mode — its wall
    //      time is unbounded-variance (hostile pairs measured ~10 min each),
    //      so it gets whatever budget remains AFTER the cheap ops+latency
    //      sections instead of starving them; every pair still re-emits the
    //      record, so a kill mid-loop costs nothing already measured. ----
    val effTarget =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_EFF_TARGET", "0.8").toDouble
    val minPairs = math.min(reps,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MIN_PAIRS", "2").toInt)
    // an explicit MAX_PAIRS wins outright (smoke tests set 1); the default
    // allows the retry loop to outlast a noisy regime
    val maxPairs = sys.env.get("SPARK_GRAFT_BENCH_MAX_PAIRS").map(_.toInt)
      .getOrElse(math.max(reps, 8))
    // wall-clock budget for the scaling section itself (~7 min/pair quiet,
    // ~10 min/pair hostile at 800k docs; also capped by what remains of
    // the total budget)
    val scalingBudgetSec = sys.env
      .getOrElse("SPARK_GRAFT_BENCH_MAX_SCALING_SEC", "1200").toInt

    def buildJsonOf(pairs: Seq[Pair]): String = {
      val bestCan = pairs.iterator.flatMap(p =>
        Seq(p.small.canary0, p.small.canary1, p.large.canary0,
          p.large.canary1)).min
      val minCpuS = pairs.iterator.map(_.small.cpuSec).min
      val minCpuL = pairs.iterator.map(_.large.cpuSec).min
      val healthy = pairs.filter(_.healthy(bestCan, minCpuS, minCpuL))
      // fallback when NO pair is healthy: pick the LEAST-STOLEN pair (min
      // total process-CPU — steal only ever adds CPU), never the max-eff
      // one. An all-hostile run once headlined eff 1.119 from a pair whose
      // small arm burned 2.5× its quiet-floor CPU; selecting max eff among
      // noisy pairs is exactly the flattering-selection bias the health
      // rule exists to kill.
      val valid = pairs.filter(p => !p.contended && p.effPossible)
      val best =
        if (healthy.nonEmpty) healthy.maxBy(_.eff)
        else if (valid.nonEmpty) valid.minBy(p => p.small.cpuSec + p.large.cpuSec)
        else pairs.minBy(p => p.small.cpuSec + p.large.cpuSec)
      // cross-pair least-steal estimate (steal only ever ADDS wall time,
      // so each arm's run-minimum is its closest-to-quiet measurement):
      // a supplementary diagnostic, never the headline
      val minWallEff = pairs.map(_.small.wallSec).min /
        (best.scale * pairs.map(_.large.wallSec).min)
      val pairsJson = pairs.map { p =>
        f"""{"t$smallCores%d":${p.small.wallSec}%.2f,"t$largeCores%d":${p.large.wallSec}%.2f,"eff":${p.eff}%.3f,"util$smallCores%d":${p.utilSmall}%.2f,"util$largeCores%d":${p.utilLarge}%.2f,"cpu$smallCores%d":${p.small.cpuSec}%.0f,"cpu$largeCores%d":${p.large.cpuSec}%.0f,"canary$smallCores%d":[${p.small.canary0}%.2f,${p.small.canary1}%.2f],"canary$largeCores%d":[${p.large.canary0}%.2f,${p.large.canary1}%.2f],"bw$smallCores%d":[${p.small.bw0}%.1f,${p.small.bw1}%.1f],"bw$largeCores%d":[${p.large.bw0}%.1f,${p.large.bw1}%.1f],"contended":${p.contended},"slowbox":${p.slowBox},"healthy":${p.healthy(bestCan, minCpuS, minCpuL)}}"""
      }.mkString("[", ",", "]")
      f""""index_build":{"docs":$benchDocs,"arms":[$smallCores,$largeCores],"docs_per_sec_local$smallCores":${benchDocs / best.small.wallSec}%.1f,"docs_per_sec_local$largeCores":${benchDocs / best.large.wallSec}%.1f,"build_sec_local$smallCores":${best.small.wallSec}%.2f,"build_sec_local$largeCores":${best.large.wallSec}%.2f,"scaling_efficiency":${best.eff}%.3f,"scaling_efficiency_${smallCores}_to_$largeCores":${best.eff}%.3f,"scaling_efficiency_min_walls":$minWallEff%.3f,"pairs":$pairsJson}"""
    }

    def runScaling(): Unit = {
      val acc = scala.collection.mutable.ArrayBuffer.empty[Pair]
      def bestCanary: Double = acc.iterator.flatMap(p =>
        Seq(p.small.canary0, p.small.canary1, p.large.canary0,
          p.large.canary1)).minOption.getOrElse(Double.MaxValue)
      def minCpuS: Double =
        acc.iterator.map(_.small.cpuSec).minOption.getOrElse(Double.MaxValue)
      def minCpuL: Double =
        acc.iterator.map(_.large.cpuSec).minOption.getOrElse(Double.MaxValue)
      def targetMet: Boolean = acc.exists(p =>
        p.healthy(bestCanary, minCpuS, minCpuL) && p.eff >= effTarget)
      val t0 = System.nanoTime()
      // 60 s margin so the final emit always lands inside the total budget
      def withinBudget: Boolean =
        (System.nanoTime() - t0) / 1e9 < scalingBudgetSec &&
          elapsedSec < totalBudgetSec - 60
      // A SIGKILLed/crashed arm (OOM killer, sandbox teardown) must not
      // void the sections already measured: treat it like a hostile pair —
      // log, keep the record emitted so far, and retry within budget.
      // Two consecutive failures mean the box (not a transient) — stop.
      var consecFails = 0
      while (consecFails < 2 &&
          ((acc.length < minPairs && withinBudget) ||
            (acc.length < maxPairs && withinBudget && !targetMet))) {
        try {
          val s = runArm(smallCores, benchDocs)
          val l = runArm(largeCores, benchDocs)
          acc += Pair(s, l, smallCores, largeCores, benchDocs)
          consecFails = 0
          // re-emit after EVERY pair: a kill mid-loop keeps finished pairs
          buildJson = buildJsonOf(acc.toSeq)
          emitRecord()
        } catch {
          case e: Exception =>
            consecFails += 1
            System.err.println(
              s"[graft-bench] scaling pair failed (${e.getMessage}); " +
                s"consecutive failures: $consecFails")
        }
      }
    }

    if (mode == "scaling") { runScaling(); return opErrors }

    // ---- headline operator timings (fresh session on the host's cores,
    //      warm each plan on sf0.001 first so we time the operator, not
    //      Janino). Every rep is bracketed by a fixed CPU canary and every op
    //      records its process-CPU seconds (VERDICT r3 item 1a/3: a slow wall
    //      time with flat CPU and a slow canary is the BOX; rising CPU is the
    //      ENGINE). An op that throws goes to `op_errors`, not the times ----
    val cores = MainCommon.hostCores
    val sOps = session(cores)
    val osb = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def sparkCanary(): Double = timeS {
      import org.apache.spark.sql.functions.{col, max => fmax, xxhash64}
      // max, not sum: summing random longs overflows under ANSI mode
      sOps.range(0, 100000000L, 1, 32)
        .select(fmax(xxhash64(col("id")))).head()
    }._2
    // the smallest fixture, beside the timed one
    val warmDir = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001")
    headline.foreach { q =>
      try SparkEntry.queries(q)(sOps, warmDir.toString).count()
      catch { case _: Throwable => }
    }
    sparkCanary() // warm the canary plan too
    val opsReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_OPS_REPS", "2").toInt
    val repRuns: Seq[(Double, Seq[(String, OpT)], Seq[(String, String)],
        Double)] =
      (1 to opsReps).map { _ =>
        val c0 = sparkCanary()
        val (times, errors) =
          timeOps(headline, () => osb.getProcessCpuTime / 1e9) { q =>
            SparkEntry.queries(q)(sOps, sfDir).count()
          }
        val c1 = sparkCanary()
        (c0, times, errors, c1)
      }
    // an op that failed in any rep has no trustworthy time
    opErrors = repRuns.flatMap(_._3).distinctBy(_._1)
    val failed = opErrors.map(_._1).toSet
    // per-op best wall across reps (the engine's speed is the quietest
    // window's number; every rep + canary stays in the diagnostics)
    val queryTimes: Seq[(String, OpT)] = headline.filterNot(failed).map { q =>
      q -> repRuns.map(_._2.toMap.apply(q)).minBy(_.wall)
    }
    val opsDiag = {
      val canaries = repRuns.map { case (c0, _, _, c1) =>
        f"[$c0%.3f,$c1%.3f]"
      }.mkString("[", ",", "]")
      val cpus = queryTimes.map { case (k, t) =>
        "\"" + k + f"""\":${t.cpu}%.3f""" }.mkString("{", ",", "}")
      val allReps = repRuns.map { case (_, ts, _, _) =>
        ts.map { case (k, t) => "\"" + k + f"""\":${t.wall}%.3f""" }
          .mkString("{", ",", "}")
      }.mkString("[", ",", "]")
      s""""ops_diag":{"reps":$opsReps,"canary_sec":$canaries,"cpu_sec":$cpus,"rep_wall":$allReps,"cores":$cores}"""
    }

    // section done: fold the ops numbers into the record and emit
    qsJson = queryTimes.map { case (k, t) => "\"" + k + f"""\":${t.wall}%.3f""" }
      .mkString("{", ",", "}")
    totalVal = queryTimes.map(_._2.wall).sum
    opsDiagJson = opsDiag
    emitRecord()
    sOps.stop()
    if (mode == "ops") return opErrors

    // ---- BM25 top-k latency over a built index (fresh session):
    //      p50 of the driver fast path over the golden set, plus p50 of the
    //      distributed windowed path (driverWandMaxSegments=0) ----
    if (elapsedSec > totalBudgetSec - 360) return opErrors // ops record stands
    val sq = session(cores)
    val osbQ = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val ixDir = freshDir("ix")
    IndexBuilder.build(sq, CorpusGen.generate(sq,
      math.min(benchDocs, 50000L)), ixDir, conf)
    val engine = new QueryEngine(sq, ixDir, conf.numBuckets)
    goldenQueries.foreach(q => engine.topK(q, 10)) // warm cache + plans
    fqLatencyQueries.foreach { case (q, fq, op) => // warm fq filterCache
      engine.search(q, 10, "text", None, fq, op).collect()
    }
    qfLatencyQueries.foreach { case (qf, tie, q) => // warm qf plans
      engine.search(q, 10, "text", None, Nil, "OR", qf, tie).collect()
    }
    val canD0 = BenchArm.canarySec()
    val cpuD0 = osbQ.getProcessCpuTime
    val lat = (goldenQueries.flatMap { q =>
      (1 to 3).map { _ => timeS(engine.topK(q, 10))._2 }
    } ++ fqLatencyQueries.flatMap { case (q, fq, op) =>
      (1 to 3).map { _ =>
        timeS(engine.search(q, 10, "text", None, fq, op).collect())._2
      }
    } ++ qfLatencyQueries.flatMap { case (qf, tie, q) =>
      (1 to 3).map { _ =>
        timeS(engine.search(q, 10, "text", None, Nil, "OR", qf, tie)
          .collect())._2
      }
    }).sorted
    val cpuDriver = (osbQ.getProcessCpuTime - cpuD0) / 1e9
    val p50 = lat(lat.length / 2)

    val engineDist = new QueryEngine(sq, ixDir, conf.numBuckets,
      driverWandMaxSegments = 0)
    // warm EVERY distributed plan twice: the first execution of each unique
    // windowed plan pays Janino + shuffle-service setup that a resident
    // engine never re-pays
    (1 to 2).foreach(_ => distributedQueries.foreach(q => engineDist.topK(q, 10)))
    val cpuX0 = osbQ.getProcessCpuTime
    val latD = distributedQueries.flatMap { q =>
      (1 to 3).map { _ => timeS(engineDist.topK(q, 10))._2 }
    }.sorted
    val cpuDist = (osbQ.getProcessCpuTime - cpuX0) / 1e9
    val p50D = latD(latD.length / 2)
    val canD1 = BenchArm.canarySec()
    sq.stop()
    deleteScratch(ixDir) // tmpfs scratch is RAM — never accumulate

    latencyJson =
      f""""query_latency":{"p50_sec":$p50%.4f,"p50_distributed_sec":$p50D%.4f,"k":10,"queries":${goldenQueries.length + fqLatencyQueries.length + qfLatencyQueries.length},"distributed_queries":${distributedQueries.length},"reps":3,"driver_cpu_sec":$cpuDriver%.2f,"distributed_cpu_sec":$cpuDist%.2f,"canary_sec":[$canD0%.3f,$canD1%.3f]}"""
    emitRecord()

    // ---- scaling LAST (unbounded-variance section): consumes whatever
    //      remains of the total budget, re-emitting after every pair.
    //      mode=query stops here (ops + latency only). ----
    if (mode != "query") runScaling()
    emitRecord() // final line = the complete record (driver contract)
    opErrors
  }
}
