package graft

import org.apache.spark.sql.SparkSession

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConf}
import graft.query.QueryEngine

/** The two spark-submit entry points, mirroring the reference's two scripts
  * (indexdata.py = ingest/build, searchindex.py = query/delete). SURVEY.md §7.
  */
object MainCommon {

  /** Strict CLI parsing: valued options consume exactly one value, flags
    * consume none, anything else fails fast (the reference's own arg gate has
    * a latent AttributeError, indexdata.py:83–85 — fixed, not ported; a
    * silently-dropped --buckets would desync build and query bucket counts).
    */
  def parseArgs(args: Seq[String], valued: Set[String],
      flagNames: Set[String]): (Map[String, String], Set[String]) = {
    val opts = Map.newBuilder[String, String]
    val flags = Set.newBuilder[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (valued(a)) {
        require(i + 1 < args.length && !a.equals(args(i + 1)),
          s"option $a requires a value")
        val v = args(i + 1)
        require(!valued(v) && !flagNames(v),
          s"option $a requires a value, got option '$v'")
        opts += a -> v
        i += 2
      } else if (flagNames(a)) {
        flags += a
        i += 1
      } else {
        throw new IllegalArgumentException(s"unknown argument: $a")
      }
    }
    (opts.result(), flags.result())
  }
  /** Bucket count for read/maintain CLIs: the index is self-describing
    * (job.txt records the encode bucket count), so --buckets is only needed
    * for indexes predating the field — and an explicit flag that contradicts
    * the recorded count fails loudly instead of silently pruning postings
    * scans to the wrong termBucket dirs (zero hits, no error).
    */
  def resolveBuckets(spark: SparkSession, indexDir: String,
      flag: Option[String]): Int = {
    import graft.index.IndexLayout.DetectedBuckets
    val detected = graft.index.IndexLayout.detectBuckets(spark, indexDir)
    (flag.map(_.toInt), detected) match {
      case (Some(f), Some(DetectedBuckets(d, true))) if f != d =>
        throw new IllegalArgumentException(
          s"--buckets $f contradicts the index's recorded bucket count $d " +
            s"at $indexDir (omit --buckets; it is only needed for indexes " +
            "that predate self-description)")
      // dir-count detection is a LOWER bound (empty buckets leave no dir):
      // a flag below it is provably wrong, a flag at-or-above it may be the
      // exact count the heuristic undercounted — trust the operator there
      case (Some(f), Some(DetectedBuckets(d, false))) if f < d =>
        throw new IllegalArgumentException(
          s"--buckets $f cannot be right: the index at $indexDir has $d " +
            "termBucket= dirs (more buckets than the flag claims exist)")
      case (Some(f), _)                          => f
      case (None, Some(DetectedBuckets(d, _)))   => d
      case (None, None)                          => 32
    }
  }

  /** Pull every `key <value>` pair out of an arg list (repeatable options —
    * Solr takes fq=/facet.query= any number of times; parseArgs' Map keeps
    * only the last). Returns (values in order, remaining args).
    */
  def extractRepeated(args: Seq[String], key: String): (Seq[String], Seq[String]) = {
    val vals = Seq.newBuilder[String]
    val rest = Seq.newBuilder[String]
    var i = 0
    while (i < args.length) {
      if (args(i) == key) {
        require(i + 1 < args.length, s"option $key requires a value")
        vals += args(i + 1)
        i += 2
      } else { rest += args(i); i += 1 }
    }
    (vals.result(), rest.result())
  }

  /** Cores a session runs on: SPARK_GRAFT_CPUS, else the host's. */
  def hostCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString).toInt

  def session(name: String): SparkSession = {
    val cpus = hostCores.toString
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(name)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // zstd trades (scalable) CPU for (shared) shuffle bytes — on this
      // bandwidth-bound box it helps the 8-vs-32 ratio, at cluster scale it
      // cuts network/disk shuffle volume
      .config("spark.io.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Build, resume, or incrementally append to an index.
  *   runMain graft.BuildIndex <indexDir> [--docs N | --input parquetPath]
  *     [--buckets B] [--seed S] [--resume | --append] [--skew]
  */
object BuildIndex {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BuildIndex <indexDir> [--docs N | --input path] [--buckets B] [--seed S] [--resume | --append] [--skew]")
    val indexDir = args(0)
    val (opts, flags) = MainCommon.parseArgs(args.drop(1).toSeq,
      valued = Set("--docs", "--input", "--buckets", "--seed"),
      flagNames = Set("--resume", "--append", "--skew"))
    val spark = MainCommon.session("graft-build")
    import spark.implicits._
    // fresh build: the flag (or default) DEFINES the layout. --append
    // continues the PUBLISHED index, so its recorded count wins and a
    // mismatched flag is rejected (mixed-bucket generations silently lose
    // hits). --resume is different: it REPLAYS the crashed job's own
    // job.txt bucket count regardless of this conf (IndexBuilder.resume),
    // and the crashed job may legitimately differ from the published index
    // (a rebuild under a new count) — so the flag passes through unchecked
    // and only backstops pre-field orphans with no recorded count.
    val conf = IndexConf(numBuckets =
      if (flags.contains("--append"))
        MainCommon.resolveBuckets(spark, indexDir, opts.get("--buckets"))
      else if (flags.contains("--resume"))
        opts.get("--buckets").map(_.toInt).getOrElse(
          MainCommon.resolveBuckets(spark, indexDir, None))
      else opts.getOrElse("--buckets", "32").toInt)
    val docs = opts.get("--input") match {
      case Some(p) => spark.read.parquet(p).as[graft.corpus.WebDoc]
      case None =>
        val n = opts.getOrElse("--docs", "5000").toLong
        CorpusGen.generate(spark, n,
          seed = opts.getOrElse("--seed", CorpusGen.DefaultSeed.toString).toLong,
          skew = flags.contains("--skew"))
    }
    val report =
      if (flags.contains("--resume")) IndexBuilder.resume(spark, docs, indexDir, conf)
      else if (flags.contains("--append")) IndexBuilder.append(spark, docs, indexDir, conf)
      else IndexBuilder.build(spark, docs, indexDir, conf)
    println(s"[graft] build complete: docs=${report.docs} terms=${report.terms} " +
      s"postings=${report.postings} segments=${report.segments} " +
      s"buckets=${report.buckets} durationMs=${report.durationMs}")
    spark.stop()
  }
}

/** Spellcheck/suggest + terms-component CLI (Solr spellcheck & /terms
  * analogs). A trailing-`*` input lists dictionary terms by prefix with
  * their df; anything else returns fuzzy "did you mean" suggestions ranked
  * (distance asc, df desc, term asc).
  *   runMain graft.Suggest <indexDir> <term | prefix*> [--n N] [--df text|title]
  */
object Suggest {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Suggest <indexDir> <term | prefix* | query --collate | " +
        "pattern --regex> [--n N] [--df text|title] [--collate] [--regex]")
    val indexDir = args(0)
    val input = args(1)
    val (opts, flags) = MainCommon.parseArgs(args.drop(2).toSeq,
      valued = Set("--n", "--df", "--buckets"),
      flagNames = Set("--collate", "--regex"))
    val n = opts.getOrElse("--n", "10").toInt
    val df = opts.getOrElse("--df", "text")
    val spark = MainCommon.session("graft-suggest")
    val buckets = MainCommon.resolveBuckets(spark, indexDir, opts.get("--buckets"))
    val engine = new QueryEngine(spark, indexDir, buckets)
    if (flags.contains("--collate")) {
      // Solr spellcheck.collate: rewrite zero-hit exact terms of a FULL
      // query with their top suggestions; print only hit-bearing collations
      println(s"[graft] collate q='$input' df=$df")
      engine.collate(input, df) match {
        case Some((cq, hits)) => println(s"  collation='$cq' hits=$hits")
        case None             => println("  no collation")
      }
    } else if (flags.contains("--regex")) {
      // Solr /terms terms.regex: full-match regex over the field's
      // dictionary (documented full-vocabulary scan, like Solr's own)
      println(s"[graft] terms regex='$input' n=$n df=$df")
      engine.termsByRegex(input, n, df).foreach {
        case (t, c) => println(f"  $t%-24s df=$c")
      }
    } else if (input.endsWith("*")) {
      println(s"[graft] terms prefix='$input' n=$n df=$df")
      engine.termsByPrefix(input.dropRight(1), n, df).foreach {
        case (t, c) => println(f"  $t%-24s df=$c")
      }
    } else {
      println(s"[graft] suggest term='$input' n=$n df=$df")
      engine.suggest(input, n, df).foreach {
        case (t, d, c) => println(f"  $t%-24s dist=$d df=$c")
      }
    }
    spark.stop()
  }
}

/** Solr MoreLikeThis CLI (content-stream form): rank the input text's
  * analyzed terms by tf·idf (metadata-only df), print the interesting
  * terms, and run them as an OR query through the standard search path.
  *   runMain graft.Mlt <indexDir> <text…> [--k K] [--max-terms M]
  *     [--min-tf T] [--min-df D] [--df text|title]
  */
object Mlt {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Mlt <indexDir> <text> [--k K] [--max-terms M] [--min-tf T] " +
        "[--min-df D] [--df text|title]")
    val indexDir = args(0)
    val text = args(1)
    val (opts, _) = MainCommon.parseArgs(args.drop(2).toSeq,
      valued = Set("--k", "--max-terms", "--min-tf", "--min-df", "--df",
        "--buckets"),
      flagNames = Set.empty)
    val k = opts.getOrElse("--k", "10").toInt
    val maxTerms = opts.getOrElse("--max-terms", "10").toInt
    val minTf = opts.getOrElse("--min-tf", "2").toInt
    val minDf = opts.getOrElse("--min-df", "2").toLong
    val df = opts.getOrElse("--df", "text")
    val spark = MainCommon.session("graft-mlt")
    val buckets = MainCommon.resolveBuckets(spark, indexDir, opts.get("--buckets"))
    val engine = new QueryEngine(spark, indexDir, buckets)
    val (terms, result) =
      engine.moreLikeThisWithTerms(text, k, maxTerms, minTf, minDf, df)
    println(s"[graft] mlt interestingTerms=${terms.mkString(",")}")
    if (terms.isEmpty) println("[graft] mlt: no interesting terms")
    else {
      val res = result.collect()
      println(s"[graft] mlt hits=${res.length}")
      res.zipWithIndex.foreach { case (r, i) =>
        println(f"  ${i + 1}%2d. docId=${r.getLong(0)}%8d score=${r.getDouble(1)}%.6f")
      }
    }
    spark.stop()
  }
}

/** Maintenance main: fold tombstones/upsert victims and merge generations
  * (the background-merge work Solr does internally; here an explicit
  * spark-submit job an operator schedules).
  *   runMain graft.Compact <indexDir> [--buckets B] [--tail]
  * `--tail` = tiered merge of every generation except the largest (cheap,
  * keeps the base untouched); default = full merge (also folds the global
  * tombstones dir).
  */
object Compact {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Compact <indexDir> [--buckets B] [--tail]")
    val indexDir = args(0)
    val (opts, flags) = MainCommon.parseArgs(args.drop(1).toSeq,
      valued = Set("--buckets"), flagNames = Set("--tail"))
    val spark = MainCommon.session("graft-compact")
    import spark.implicits._
    val conf = IndexConf(numBuckets =
      MainCommon.resolveBuckets(spark, indexDir, opts.get("--buckets")))
    val before = graft.index.IndexLayout.current(spark, indexDir)
      .getOrElse(throw new IllegalStateException(s"no index at $indexDir"))
    if (flags.contains("--tail")) {
      // --tail NEVER escalates to a full merge: the flag's contract is an
      // O(tail) fold that leaves the base (and the global tombstones dir)
      // untouched — silently rewriting the whole index on a 2-generation
      // layout would be the opposite of what the operator asked for
      if (before.size < 2)
        println("[graft] --tail: single live generation, nothing to fold")
      else {
        val counts =
          graft.index.Compaction.generationCounts(spark, indexDir, before)
        val big = counts.maxBy(_._2)._1
        graft.index.Compaction.merge(spark, indexDir, conf,
          before.filterNot(_ == big))
      }
    } else graft.index.Compaction.run(spark, indexDir, conf)
    val after = graft.index.IndexLayout.current(spark, indexDir).get
    println(s"[graft] compaction complete: generations ${before.size} -> ${after.size}")
    spark.stop()
  }
}

/** Point-in-time backup — the Solr backup/replication handler analog.
  * Copies the published generations + committed tombstones to a fresh
  * self-contained index dir (see [[graft.index.Snapshot]] for the
  * consistency argument).
  *   runMain graft.Snapshot <indexDir> <outDir>
  */
object Snapshot {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Snapshot <indexDir> <outDir>")
    val spark = MainCommon.session("graft-snapshot")
    val t0 = System.nanoTime()
    val r = graft.index.Snapshot.run(spark, args(0), args(1))
    val ms = (System.nanoTime() - t0) / 1e6
    println(f"[graft] snapshot ${args(0)} -> ${args(1)}: " +
      f"generations=${r.segdirs.size} tombstoneFiles=${r.tombstoneFiles} " +
      f"bytes=${r.bytes} latencyMs=$ms%.1f")
    spark.stop()
  }
}

/** Real-time get by url — the Solr `/get?id=` analog (reference:
  * indexdata.py:1529–1533) as a CLI surface.
  *   runMain graft.Get <indexDir> <url> [--buckets B]
  */
object Get {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Get <indexDir> <url> [--buckets B]")
    val (opts, _) = MainCommon.parseArgs(args.drop(2).toSeq,
      valued = Set("--buckets"), flagNames = Set.empty)
    val spark = MainCommon.session("graft-get")
    val engine = new QueryEngine(spark, args(0),
      MainCommon.resolveBuckets(spark, args(0), opts.get("--buckets")))
    val rows = engine.realtimeGet(args(1)).collect()
    if (rows.isEmpty) println(s"[graft] get url='${args(1)}' -> NOT FOUND")
    else {
      val r = rows.head
      println(s"[graft] get url='${args(1)}' -> docId=${r.getAs[Long]("docId")} " +
        s"lang=${r.getAs[String]("lang")} doclen=${r.getAs[Long]("doclen")} " +
        s"warc_ts=${r.getAs[java.sql.Timestamp]("warc_ts")}")
    }
    spark.stop()
  }
}

/** Query an index: top-k BM25 search, optional facet counts over ALL
  * matches, optional delete of the hits (the reference's searchindex.py -d
  * flag, searchindex.py:141–150).
  *   runMain graft.Search <indexDir> <query> [--k K] [--buckets B] [--delete]
  *     [--facet FIELD]
  */
object Search {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Search <indexDir> <query|*:*> [--k K] [--start N] [--fl f1,f2] [--buckets B] [--df text|title] [--qop OR|AND] [--qf field[^w],field[^w]] [--tie 0..1] [--fq query]* [--facet field]* [--facet-limit N] [--facet-mincount M] [--facet-prefix P] [--facet-sort count|index] [--facet-offset N] [--facet-query query]* [--facet-range start,end,gapSec] [--facet-range-num field,start,end,gap] [--pivot fieldA,fieldB] [--sort field:asc|desc] [--export outDir] [--stats field] [--stats-percentiles 50,90,99] [--stats-distinct] [--group field] [--group-limit N] [--group-ngroups] [--after score,docId] [--delete] [--delete-all] [--exhaustive] [--distributed] [--explain]")
    val indexDir = args(0)
    val query = args(1)
    // repeatable options first (Solr takes fq= / facet.query= any number of
    // times; the strict Map-based parser would keep only the last)
    val (fq, rest1) = MainCommon.extractRepeated(args.drop(2).toSeq, "--fq")
    val (facetQueries, rest2) = MainCommon.extractRepeated(rest1, "--facet-query")
    // Solr facet.field is repeatable: each field gets its own independent
    // count job over the same match set (Solr prices them separately too)
    val (facetFields, rest) = MainCommon.extractRepeated(rest2, "--facet")
    val (opts, flags) = MainCommon.parseArgs(rest,
      valued = Set("--k", "--buckets", "--df", "--facet-range",
        "--pivot", "--sort", "--stats", "--group", "--after", "--qop",
        "--qf", "--tie",
        "--start", "--fl", "--facet-limit", "--facet-mincount",
        "--facet-prefix", "--facet-sort", "--facet-offset", "--export",
        "--group-limit", "--facet-range-num",
        "--stats-percentiles"),
      flagNames = Set("--delete", "--delete-all", "--exhaustive",
        "--distributed", "--explain", "--group-ngroups",
        "--stats-distinct"))
    val k = opts.getOrElse("--k", "10").toInt
    require(k >= 0, "--k must be >= 0 (0 = Solr rows=0 count-only)")
    val df = opts.getOrElse("--df", "text") // Solr's df= default field
    val qOp = opts.getOrElse("--qop", "OR") // Solr's q.op= default operator
    // Solr edismax qf= analog: unqualified plain terms search EVERY listed
    // field; per-field BM25 contributions combine under --tie below (0
    // default = Solr's per-token best-field max — see MultiLit). Bare
    // field = weight 1. Applies to q only; fq strings parse qf-free, like
    // Solr's fq (always the standard parser).
    val qf: Seq[(String, Double)] = opts.get("--qf").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map { part =>
        // split with -1: a trailing '^' must NOT be silently swallowed
        // ("text^" / "text^2^" reject loudly, per the parse-loud rule)
        part.split("\\^", -1) match {
          case Array(f) if f.nonEmpty    => (f, 1.0)
          case Array(f, w) if f.nonEmpty && w.nonEmpty => (f, w.toDouble)
          case _ => throw new IllegalArgumentException(
            s"--qf entries are field or field^weight, got '$part'")
        }
      }
    // edismax tie=: 0 (default, Solr parity) scores each fanned token by
    // its best field; 1 sums across fields; between damps the non-max
    // fields (validated in QueryParser.parse)
    val tie = opts.getOrElse("--tie", "0").toDouble
    require(tie == 0.0 || qf.nonEmpty,
      "--tie only applies with --qf (it shapes multi-field scoring)")
    require(!flags.contains("--stats-distinct") || opts.contains("--stats"),
      "--stats-distinct only applies with --stats <field>")
    // Solr start= shallow offset paging: fetch start+k and drop the first
    // start rows — the exact cost shape of Solr itself, which heaps
    // start+rows per shard (hence "deep paging with start= is an
    // anti-pattern" in Solr docs too; use --after past a few pages)
    val start = opts.getOrElse("--start", "0").toInt
    require(start >= 0, s"--start must be >= 0, got $start")
    // deep-pagination anchor (Solr cursorMark analog): the cursor= line a
    // previous page printed. Double.toString round-trips exactly, so the
    // anchor score is bit-identical to the engine's.
    val after = opts.get("--after").map { s =>
      try {
        val i = s.lastIndexOf(',')
        require(i > 0 && i < s.length - 1)
        graft.query.Wand.Scored(s.substring(i + 1).toLong,
          s.substring(0, i).toDouble)
      } catch {
        case _: IllegalArgumentException => // require + NumberFormat
          throw new IllegalArgumentException(
            s"--after expects <score>,<docId> (a printed cursor= line), " +
              s"got '$s'")
      }
    }
    require(start == 0 || after.isEmpty,
      "--start (offset paging) and --after (cursor paging) are mutually " +
        "exclusive — a cursor already encodes the page boundary")
    val spark = MainCommon.session("graft-search")
    val buckets = MainCommon.resolveBuckets(spark, indexDir, opts.get("--buckets"))
    // --distributed forces the windowed plan (driver fast path off) — the
    // 100×-relevant physical strategy, for plan/latency inspection. Without
    // it, the engine's own constructor default applies (ADVICE r4: a
    // duplicated literal here silently diverged from library behavior).
    val engine =
      if (flags.contains("--distributed"))
        new QueryEngine(spark, indexDir, buckets, driverWandMaxSegments = 0)
      else new QueryEngine(spark, indexDir, buckets)
    // one sort key: field[:asc|desc], ascending by default
    def sortKey(s: String): (String, Boolean) = s.split(":", 2) match {
      case Array(f)          => (f, true)
      case Array(f, "asc")   => (f, true)
      case Array(f, "desc")  => (f, false)
      case Array(f, d) => throw new IllegalArgumentException(
        s"--sort $f:$d — direction must be asc or desc")
    }
    // Solr /export handler analog: --export OUT writes the FULL match set
    // (every match, range-partitioned global sort, no driver collect) as
    // parquet. Like /export itself it REQUIRES sort= and fl=, never scores,
    // and rejects paging params (it is the anti-paging bulk path).
    if (opts.contains("--export")) {
      val outDir = opts("--export")
      require(opts.contains("--sort") && opts.contains("--fl"),
        "--export requires --sort field[:asc|desc] and --fl f1,f2 " +
          "(Solr /export requires sort= and fl= too)")
      require(start == 0 && after.isEmpty && !flags.contains("--delete") &&
        !flags.contains("--delete-all"),
        "--export is the full-result bulk path: --start/--after/--delete " +
          "do not combine with it")
      val (field, ascending) = sortKey(opts("--sort"))
      val fields = opts("--fl").split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq
      val t0 = System.nanoTime()
      engine.exportMatches(query, fields, field, ascending, df, fq, qOp, qf, tie)
        .write.mode("overwrite").parquet(outDir)
      val n = spark.read.parquet(outDir).count() // metadata-only count
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"[graft] export query='$query' sort=$field:" +
        s"${if (ascending) "asc" else "desc"} fl=${fields.mkString(",")} " +
        f"docs=$n out=$outDir latencyMs=$ms%.1f")
      spark.stop()
      return
    }
    // Solr sort= analog: --sort field[:asc|desc] orders the page by a
    // stored field instead of score (docId-ascending tiebreak). Both
    // branches yield the page rows (docId first) so --delete works on
    // either ordering.
    val fqNote = if (fq.isEmpty) "" else s" fq=${fq.mkString("; ")}"
    val page: Array[org.apache.spark.sql.Row] = opts.get("--sort") match {
      case Some(spec) =>
        // Solr compound sort: comma-separated field[:asc|desc] keys,
        // docId-ascending final tiebreak
        val sorts: Seq[(String, Boolean)] =
          spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map(sortKey)
        require(after.isEmpty, "--after applies to score-ordered pages only")
        require(!flags.contains("--explain"),
          "--explain applies to score-ordered search only")
        // --exhaustive selects between the two SCORE-ordered physical paths;
        // accepting-and-ignoring it here would let an operator believe the
        // cross-check ran when it did not (review r5)
        require(!flags.contains("--exhaustive"),
          "--exhaustive applies to score-ordered search only")
        val t0 = System.nanoTime()
        val rows = engine.searchSortedMulti(query, sorts, start + k,
          df, fq, qOp, qf, tie).collect().drop(start)
        val ms = (System.nanoTime() - t0) / 1e6
        val sortStr = sorts.map { case (f, a) =>
          s"$f:${if (a) "asc" else "desc"}" }.mkString(",")
        println(f"[graft] query='$query' sort=$sortStr " +
          s"hits=${rows.length} " + f"latencyMs=$ms%.1f")
        rows.zipWithIndex.foreach { case (r, i) =>
          val kv = sorts.zipWithIndex.map { case ((f, _), j) =>
            s"$f=${r.get(j + 1)}" }.mkString(" ")
          println(f"  ${start + i + 1}%2d. docId=${r.getLong(0)}%8d $kv")
        }
        rows
      case None if k == 0 =>
        // Solr rows=0: count-only — the full match-set size, no page
        val t0 = System.nanoTime()
        val n = engine.countMatches(query, df, fq, qOp, qf, tie)
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"[graft] query='$query'$fqNote numFound=$n latencyMs=$ms%.1f")
        Array.empty[org.apache.spark.sql.Row]
      case None =>
        val t0 = System.nanoTime()
        val res =
          (if (flags.contains("--exhaustive"))
             engine.searchExhaustive(query, start + k, df, after, fq, qOp, qf, tie)
           else engine.search(query, start + k, df, after, fq, qOp, qf, tie))
            .collect().drop(start)
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"[graft] query='$query'$fqNote hits=${res.length} latencyMs=$ms%.1f")
        res.zipWithIndex.foreach { case (r, i) =>
          println(f"  ${start + i + 1}%2d. docId=${r.getLong(0)}%8d score=${r.getDouble(1)}%.6f")
        }
        // next-page anchor: pass back verbatim as --after (full page ⇒ more
        // may exist; Double.toString round-trips, %.6f above does not)
        if (res.length == k && res.nonEmpty) {
          val last = res.last
          println(s"[graft] cursor=${last.getDouble(1)},${last.getLong(0)}")
        }
        // Solr debugQuery analog: per-term BM25 breakdown of each hit; the
        // term-sorted sum reproduces the reported score bit-for-bit
        if (flags.contains("--explain")) res.foreach { r =>
          val id = r.getLong(0)
          println(f"[graft] explain docId=$id%d score=${r.getDouble(1)}%.6f")
          engine.explain(query, id, df, qOp, qf, tie).foreach { e =>
            println(f"    ${e.term}%-24s tf=${e.tf}%-4d dl=${e.dl}%-5d " +
              f"df=${e.df}%-7d idf=${e.idf}%.6f boost=${e.boost}%.2f " +
              f"score=${e.score}%.6f")
          }
        }
        res
    }
    // Solr fl= stored-field list: print the named docs-table columns for
    // each hit on the page (one pushed-down IN-filter scan over the docs
    // tables for the k page ids — never a full-table collect)
    opts.get("--fl").foreach { spec =>
      val fields = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      // the stored docs columns = exactly the sortable set (one constant,
      // review r5: a second literal list here would drift)
      val stored = QueryEngine.SortableFields
      require(fields.nonEmpty && fields.forall(stored.contains),
        s"--fl fields must be stored docs columns: " +
          stored.toSeq.sorted.mkString(", "))
      val ids = page.map(_.getLong(0)).toSeq
      if (ids.nonEmpty) {
        import org.apache.spark.sql.functions.col
        val rows = engine.docs
          .filter(col("docId").isin(ids: _*))
          .select((Seq("docId") ++ fields).map(col): _*)
          .collect().map(r => r.getLong(0) -> r).toMap
        println(s"[graft] fl=${fields.mkString(",")}")
        ids.foreach { id =>
          rows.get(id).foreach { r =>
            val kv = fields.zipWithIndex
              .map { case (f, i) => s"$f=${r.get(i + 1)}" }.mkString(" ")
            println(f"  docId=$id%8d $kv")
          }
        }
      }
    }
    facetFields.foreach { field =>
      // Solr facet.limit / facet.mincount / facet.prefix / facet.sort knobs
      val fLimit = opts.getOrElse("--facet-limit", "20").toInt
      val fMin = opts.getOrElse("--facet-mincount", "1").toLong
      val fPrefix = opts.get("--facet-prefix")
      val fSort = opts.getOrElse("--facet-sort", "count")
      require(fSort == "count" || fSort == "index",
        s"--facet-sort must be count or index, got '$fSort'")
      val fOffset = opts.getOrElse("--facet-offset", "0").toInt
      println(s"[graft] facet field='$field' (over ALL matches, " +
        s"limit=$fLimit mincount=$fMin" +
        fPrefix.fold("")(p => s" prefix=$p") +
        (if (fSort == "index") " sort=index" else "") +
        (if (fOffset > 0) s" offset=$fOffset" else "") + ")")
      engine.facet(query, field, fLimit, df, fq, fMin, qOp,
        fPrefix, fSort == "index", fOffset, qf, tie).collect().foreach {
        r => println(f"  ${r.get(0)}%-12s ${r.getLong(1)}%8d")
      }
    }
    // Solr facet.query analog: per sub-query count over the match set
    if (facetQueries.nonEmpty) {
      println(s"[graft] facet.query (over ALL matches)")
      engine.facetQuery(query, facetQueries, df, fq, qOp, qf, tie).collect().foreach { r =>
        println(f"  ${r.getString(0)}%-32s ${r.getLong(1)}%8d")
      }
    }
    // Solr stats component analog: --stats doclen|titleLen over ALL matches
    opts.get("--stats").foreach { field =>
      // Solr stats percentiles= analog (exact, not t-digest)
      val ps = opts.get("--stats-percentiles").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        .map(_.toDouble)
      // Solr stats.calcdistinct analog: exact distinct count, appended
      // after the percentile columns
      val cd = flags.contains("--stats-distinct")
      println(s"[graft] stats field='$field' (over ALL matches)")
      engine.statsField(query, field, df, fq, qOp, ps, qf, tie, cd)
        .collect().foreach { r =>
          val pStr = ps.zipWithIndex.map { case (pt, i) =>
            s" ${QueryEngine.percentileColName(pt)}=${r.get(5 + i)}"
          }.mkString
          val dStr = if (cd) s" countDistinct=${r.get(5 + ps.length)}" else ""
          println(s"  count=${r.get(0)} min=${r.get(1)} max=${r.get(2)} " +
            s"sum=${r.get(3)} mean=${r.get(4)}$pStr$dStr")
        }
    }
    // Solr result grouping analog: --group field, --k = group.limit
    opts.get("--group").foreach { field =>
      // Solr group.ngroups: distinct group count, priced as its own agg
      val ng = if (flags.contains("--group-ngroups"))
        s" ngroups=${engine.countGroups(query, field, df, fq, qOp, qf, tie)}" else ""
      // Solr group.limit: docs per group, independent of rows (--k)
      val gLimit = opts.get("--group-limit").map(_.toInt).getOrElse(k)
      println(s"[graft] group field='$field' limit=$gLimit$ng")
      engine.searchGrouped(query, field, gLimit, df, fq, qOp, qf, tie).collect().foreach { r =>
        println(f"  ${r.get(0)}%-12s #${r.getInt(1)}%-3d docId=${r.getLong(2)}%8d score=${r.getDouble(3)}%.6f")
      }
    }
    // Solr facet.pivot analog: --pivot fieldA,fieldB nested counts
    opts.get("--pivot").foreach { spec =>
      val parts = spec.split(",")
      require(parts.length == 2, "--pivot expects <fieldA>,<fieldB>")
      println(s"[graft] facet.pivot=${parts(0)},${parts(1)} (over ALL matches)")
      engine.facetPivot(query, parts(0), parts(1), df = df, fq = fq, qOp = qOp, qf = qf, tie = tie)
        .collect().foreach { r =>
          println(f"  ${r.get(0)}%-12s (${r.getLong(1)}%d) > ${r.get(2)}%-24s ${r.getLong(3)}%8d")
        }
    }
    // Solr facet.range analog: --facet-range start,end,gapSec over warc_ts
    // numeric facet.range (r5): --facet-range-num field,start,end,gap
    opts.get("--facet-range-num").foreach { spec =>
      val parts = spec.split(",")
      require(parts.length == 4,
        "--facet-range-num expects <field>,<start>,<end>,<gap>")
      println(s"[graft] facet.range ${parts(0)} [${parts(1)},${parts(2)}) " +
        s"gap=${parts(3)} (over ALL matches)")
      engine.facetRangeNumeric(query, parts(0), parts(1).toLong,
        parts(2).toLong, parts(3).toLong, df, fq, qOp, qf, tie)
        .collect().foreach { r =>
          println(f"  ${r.getLong(0)}%-12d ${r.getLong(1)}%8d")
        }
    }
    opts.get("--facet-range").foreach { spec =>
      val parts = spec.split(",")
      require(parts.length == 3,
        "--facet-range expects <startIso>,<endIso>,<gapSec>")
      println(s"[graft] facet.range warc_ts [$spec) (over ALL matches)")
      engine.facetRange(query, parts(0), parts(1), parts(2).toLong, df, fq, qOp, qf, tie)
        .collect().foreach { r =>
          println(f"  ${r.get(0)}%-24s ${r.getLong(1)}%8d")
        }
    }
    if (flags.contains("--delete") && page.nonEmpty) {
      graft.query.Deletes.delete(spark, indexDir, page.map(_.getLong(0)).toSeq)
      println(s"[graft] tombstoned ${page.length} docs")
    }
    // delete EVERY match by cursor paging (the reference's rows=100000
    // search-then-delete without the cap or the giant page)
    if (flags.contains("--delete-all")) {
      // fq + qOp travel with the delete: it must tombstone exactly the
      // match set the page above displayed (review r5 — dropping fq here
      // made `*:* --fq ... --delete-all` wipe the whole corpus)
      val n = engine.deleteAllByQuery(query, df, fq = fq, qOp = qOp, qf = qf, tie = tie)
      println(s"[graft] tombstoned $n docs (all matches)")
    }
    spark.stop()
  }
}
