package graft.query

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.index._

/** Query side of the engine — the analog of `searchindex.py` (search → top-k
  * → optional delete). Two physical strategies, rank-identical by test:
  *
  *  - `searchExhaustive`: pure Catalyst plan — pruned postings scan → decode
  *    flatMap → per-doc deterministic score fold → filters →
  *    TakeOrderedAndProject. The regression anchor (SURVEY.md §7 step 3).
  *  - `search` (default): block-max WAND over lazily block-decoded cursors.
  *    Small posting sets run on the driver; corpus-scale ones run as ONE
  *    Spark job: the docId space is sliced into disjoint windows, one
  *    shuffle partition each, every window task runs the BMW loop over its
  *    slice, and the driver merges the ≤ windows × k results (exact because
  *    windows are disjoint).
  *
  * Both prune the postings scan to the query terms' buckets: the postings
  * table is directory-partitioned by termBucket, so Spark's partition
  * discovery skips every other bucket, and Parquet min/max on the sorted
  * `term` column prunes row groups within a bucket.
  *
  * Stored-field filters (`lang:` / `url:` / `[a TO b]` ranges) and delete
  * tombstones become per-doc allow/deny predicates inside the WAND loop:
  *  - distributed path: the allow docIds and the tombstone docIds are keyed
  *    by docId window and travel in the SAME shuffle as the posting
  *    segments (and each map partition's partial per-term df, so every
  *    window sums the exact global df) — each window task builds its own
  *    slice as a window-local bitmap. No broadcast, no 2^31-docId
  *    assumption, at any selectivity. The allow ids are never materialized
  *    on the driver; the tombstone ids enter from the driver's deny set
  *    when it is under the cap, else from a scan of the tombstone tables.
  *  - driver fast path: filter docIds are collected only up to a hard cap
  *    ([[QueryEngine.MaxDriverFilterDocs]]); a larger filter silently routes
  *    the query to the distributed path. The cap bounds driver memory
  *    regardless of corpus size.
  *  - deny set: the tombstone ids, collected under the same cap and cached
  *    per view, keyed by the committed file listing of the global
  *    `tombstones/` dir ([[denyIds]]) — Solr's live-docs bitset, reused
  *    until the next delete, so a repeated query runs no Spark job.
  *
  * The engine reads the index through the generation pointer
  * ([[IndexLayout]]): segments of the SAME term may come from multiple
  * append batches, so per-term document frequency is summed over segment
  * rows at query time (exact — segments are docId-disjoint).
  *
  * @param driverWandMaxSegments segment-row threshold under which WAND runs
  *   on the driver: each row is one compressed segment (≤ segmentMaxDocs
  *   postings), so the collected working set is small and the query costs
  *   one cached scan instead of a shuffle job. Above it, the distributed
  *   windowed job takes over — the same split a coordinator/shard search
  *   engine makes (one fan-out, one coordinator merge). 0 forces the
  *   distributed shape and skips the segment-count probe.
  */
final class QueryEngine(spark: SparkSession, indexDir: String,
    numBuckets: Int = 32, driverWandMaxSegments: Int = 256,
    autoRefresh: Boolean = true) {
  import spark.implicits._

  // ------------------------------------------------- index state (swappable)

  /** Immutable snapshot of the resolved index state (generation set, corpus
    * stats, relation handles). Held in ONE volatile field and swapped whole:
    * auto-compaction under appends made [[snapshot]] refreshes concurrent
    * with queries, and with four separate vars a racing query could observe
    * a torn mix (new segdirs + old postings, or new stats against old
    * segments → wrong idf/norms). A query now sees the old or the new
    * snapshot, each internally consistent: every query path captures the
    * view ONCE at its top and threads it through (re-reading the volatile
    * mid-query would reintroduce the tear). Resolved at construction;
    * [[invalidateCache]] re-resolves, so one engine instance survives
    * compaction/append (the round-1 lazy vals went stale).
    *
    * The five query caches live INSIDE the view (r5): they are valid
    * exactly as long as the generation set they were read from, so a view
    * swap retires them atomically with the relations. The old
    * clear-on-invalidate scheme had a poisoning window — a query holding
    * the old view could `put` a stale postings sample AFTER the clear,
    * and every later query on the new view then served superseded docs
    * from the cache. Now an in-flight query writes into ITS view's cache,
    * which is unreachable from queries on the new view. The deny cache is
    * also keyed by the tombstone listing, which deletes change without a
    * swap.
    */
  private final class IndexView(val segdirs: Seq[String],
      val stats: CorpusStats, val docs: DataFrame, val postings: DataFrame,
      val supersedes: Seq[String]) {
    /** Bounded cache of small pruned-scan results keyed by the query's term
      * set — the analog of Solr/Lucene's filter/block caches (hot postings
      * stay resident). Only results under the driver threshold are cached,
      * so memory is bounded by 256 entries × driver-threshold segments.
      * Postings files are immutable between compactions, and this cache
      * dies with its view at the pointer flip that follows one.
      */
    val segCache = lru[Array[PostingSegment]](256)

    /** Driver-side filter results ([[driverFilters]]): stored-field
      * predicate or term-fq key → sorted matching docIds (each ≤
      * MaxDriverFilterDocs; an over-cap result is never stored).
      */
    val filterCache = lru[Option[Array[Long]]](64)

    /** Dictionary expansions (prefix/fuzzy/wildcard/range/regex) → terms.
      * Fuzzy entries key as `key + "~" + maxEdits` — '~' never appears in a
      * term key, so the families cannot collide.
      */
    val prefixCache = lru[Seq[String]](64)

    /** Tombstone deny sets ([[denyIds]]): the committed file listing of the
      * global `tombstones/` dir → the sorted ids of those files plus this
      * view's [[supersedes]] (None = over MaxDriverFilterDocs, cached too
      * so an over-cap set is not re-collected to learn it again). Deletes
      * only add files under new names, and files leave the dir only after
      * a pointer flip, so a listing never comes back with other content:
      * the newest key and one a racing query may still be reading suffice.
      */
    val denyCache = lru[Option[Array[Long]]](2)

    /** Per-segment docsmap (file → url min/max) for realtimeGet planning.
      * Cached only for PUBLISHED segments of this view — an in-flight
      * append's map may appear between calls, so it is re-read each time.
      */
    val docsMapCache = scala.collection.mutable.Map
      .empty[String, Option[Array[(String, String, String)]]]
  }

  /** Access-ordered map that evicts its least recently used entry past
    * `cap`; callers synchronize on it ([[cached]]).
    */
  private def lru[V](cap: Int): java.util.Map[String, V] =
    new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, V]) =
        size() > cap
    }

  /** Read-through on a view cache: a hit returns the stored value; a miss
    * computes it and stores it only when `keep` holds (an over-threshold
    * result is returned but never cached).
    */
  private def cached[V](cache: java.util.Map[String, V], key: String,
      keep: V => Boolean = (_: V) => true)(compute: => V): V =
    cache.synchronized(Option(cache.get(key))).getOrElse {
      val value = compute
      if (keep(value)) cache.synchronized(cache.put(key, value))
      value
    }

  @volatile private var view: IndexView = buildView()

  private def buildView(): IndexView = {
    val sd = IndexLayout.current(spark, indexDir)
      .getOrElse(throw new IllegalStateException(
        s"no published index at $indexDir"))
    // Bucket-count safety net: a numBuckets that disagrees with what a live
    // segment was encoded with prunes postings scans to the WRONG
    // termBucket dirs — zero hits, no error. Segments record their count in
    // job.txt (0 = predates the field); fail loudly here instead. Checked
    // per view build, not per query (job.txt is a one-line driver-side read).
    sd.foreach { s =>
      IndexLayout.readJobDescriptor(spark, s"$indexDir/$s")
        .map(_.buckets).filter(_ > 0).foreach { b =>
          if (b != numBuckets) throw new IllegalArgumentException(
            s"QueryEngine numBuckets=$numBuckets but segment $s of " +
              s"$indexDir was encoded with $b buckets")
        }
    }
    // one docs and one postings relation for all queries — building them
    // per query would re-list the partition directories and re-infer the
    // schema every time
    new IndexView(sd, IndexLayout.combinedStats(spark, indexDir, sd),
      IndexLayout.readDocs(spark, indexDir, sd),
      IndexLayout.readPostings(spark, indexDir, sd),
      IndexLayout.supersedesPaths(spark, indexDir, sd))
  }

  def stats: CorpusStats = view.stats
  def docs: DataFrame = view.docs

  /** Delete-by-id tombstones + each live segment's upsert `supersedes/`
    * (written before the pointer flip, visible with it — see
    * IndexLayout.tombstonePaths).
    */
  private def tombstones(v: IndexView): Option[DataFrame] =
    IndexLayout.readTombstones(spark, indexDir, v.segdirs)

  /** The sorted ids the view hides — exactly [[tombstones]] at this
    * instant — or None over MaxDriverFilterDocs. One listing of the global
    * `tombstones/` dir per call; the ids are read from the LISTED files, so
    * the value is a pure function of its key and a delete that lands
    * mid-read cannot be stored under the older listing.
    */
  private def denyIds(v: IndexView): Option[Array[Long]] = {
    val files = IndexLayout.committedTombstoneFiles(spark, indexDir).sorted
    if (files.isEmpty && v.supersedes.isEmpty) Some(Array.empty[Long])
    else cached(v.denyCache, files.mkString("\n"))(
      boundedIds(IndexLayout.readIds(spark, files ++ v.supersedes)))
  }

  /** The view a query runs against — every query path captures it ONCE at
    * its top. Pointer-staleness guard first, when `autoRefresh` is on
    * (default): re-resolve the generation pointer and drop the caches if it
    * moved. Matters because compaction is AUTOMATIC under appends
    * (IndexConf.autoCompactGenerations) — without this, a long-lived engine
    * over a streaming index either crashes on GC'd segment files or, worse,
    * silently serves upsert victims out of its segment cache after the
    * folded supersedes disappear. Cost is two local fs metadata ops per
    * query (~50 µs on a local disk); on an object store an operator can pass
    * autoRefresh=false and call [[invalidateCache]] on an external signal
    * instead (the Solr NRT openSearcher pattern).
    */
  private def snapshot(): IndexView = {
    if (autoRefresh &&
        !IndexLayout.current(spark, indexDir).contains(view.segdirs))
      invalidateCache()
    view
  }

  /** Re-resolve the generation pointer and drop every cache — call after a
    * compaction or append performed while this engine instance is live.
    * Synchronized so two concurrent refreshes cannot interleave; the new
    * snapshot is built COMPLETELY before the single volatile assignment
    * makes it visible.
    */
  def invalidateCache(): Unit = synchronized {
    // caches live inside the view — the swap retires them atomically
    view = buildView()
  }

  /** Pruned postings scan for a term set: bucket partition pruning + term
    * predicate (Parquet min-max pruning on the sorted term column).
    */
  def postingsFor(terms: Seq[String]): Dataset[PostingSegment] =
    postingsFor(terms, view)

  private def postingsFor(terms: Seq[String],
      v: IndexView): Dataset[PostingSegment] = {
    val ts = terms.distinct
    if (ts.isEmpty) return spark.emptyDataset[PostingSegment]
    val buckets = ts.map(IndexBuilder.bucketOf(_, numBuckets)).distinct
    v.postings
      .filter($"termBucket".isin(buckets: _*) && $"term".isin(ts: _*))
      .as[PostingSegment]
  }

  /** Global df per term from segment metadata: the column-pruned sum of the
    * per-segment counts over the terms' bucket dirs, no posting decode.
    */
  private def dfOf(v: IndexView, terms: Seq[String]): Map[String, Long] =
    postingsFor(terms, v).groupBy($"term").agg(sum($"count").as("df"))
      .as[(String, Long)].collect().toMap

  private def docsMapOf(v: IndexView, sd: String, cache: Boolean)
      : Option[Array[(String, String, String)]] = {
    def load = IndexLayout.readDocsMap(spark, s"$indexDir/$sd")
      .map(_.as[(String, String, String)].collect())
    if (cache)
      v.docsMapCache.synchronized(v.docsMapCache.getOrElseUpdate(sd, load))
    else load
  }

  /** a <= b under UTF-8 BINARY order — the order Spark/Parquet min/max on a
    * string column uses. Java String comparison differs for supplementary
    * characters, and a divergence here would be a silent false-negative
    * prune, so compare the encoded bytes.
    */
  private def utf8Le(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) <= 0

  /** Top-k by (-score, docId) on the default (WAND) path.
    *
    * @param after deep-pagination anchor (Lucene searchAfter / Solr
    *   cursorMark): return the k docs ranking strictly after (score, docId)
    *   in (-score, docId) order. Scores are bit-identical across paths and
    *   parallelism, so a page boundary from any path anchors any other;
    *   paging with a constant k touches O(k) driver memory per page where
    *   the reference's `rows=100000` (searchindex.py:98) heaps the whole
    *   result — the 100× shape for scan-all-matches.
    * @param fq Solr filter queries: each string parses with the same
    *   grammar and its MATCH SET constrains results WITHOUT contributing to
    *   scores (fq terms never score — the Solr q-vs-fq split; an `a AND b`
    *   clause instead scores both). Pure-filter fqs (`lang:en`,
    *   `warc_ts:[..]`) fold into the stored-field predicate; term fqs
    *   resolve to docId sets cached per fq string in the view's
    *   filterCache — Solr's filterCache, literally: first use pays the
    *   match-set job, repeats are a map lookup, and a view swap retires
    *   stale entries atomically.
    * @param qOp Solr `q.op` default operator (see [[QueryParser.parse]]).
    */
  def search(q: String, k: Int, df: String = "text",
      after: Option[Wand.Scored] = None, fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil, tie: Double = 0.0): DataFrame =
    searchWand(q, k, df, after, fq, qOp, qf, tie)

  /** Library-call form: top-k as driver-side values. For small posting sets
    * this is one (cached) scan with zero result-side Spark jobs — the
    * engine's true query latency; the DataFrame form exists for relational
    * composition.
    */
  def topK(q: String, k: Int): Array[Wand.Scored] =
    search(q, k).collect().map(r => Wand.Scored(r.getLong(0), r.getDouble(1)))

  /** Solr debugQuery / Lucene Explanation analog: the per-term BM25
    * breakdown of ONE document's score for a query. Every distinct positive
    * query term the doc contains yields an entry (term-ascending — the
    * engine's fixed summation order, so `entries.map(_.score).sum` is
    * BIT-IDENTICAL to the score every search path reports for the doc);
    * terms the doc lacks contribute nothing and are omitted, matching the
    * scoring rule (clause membership gates MATCHING, never which present
    * terms score). Cost: one pruned covering-segment scan (term IN +
    * firstDocId/lastDocId range overlap — per-term segments are
    * docId-disjoint, so ≤1 segment per term decodes) plus the tiny global
    * df agg; a debug surface, not a hot path. The breakdown is computed
    * from live postings without consulting the tombstone view — explaining
    * a deleted docId shows the score it WOULD have, exactly like Lucene's
    * explain on a not-yet-merged delete.
    */
  def explain(q: String, docId: Long, df: String = "text",
      qOp: String = "OR",
      qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): Seq[QueryEngine.ExplainEntry] = {
    val v = snapshot()
    val ast = QueryParser.parse(q, df, qOp, qf, tie)
    if (ast.matchAll)
      return Seq(QueryEngine.ExplainEntry("*:*", 0, 0, 0L, 1.0, 1.0, 1.0))
    val rq = QueryResolve.resolve(ast, expander(v))
    val scoring = rq.scoringTerms // distinct + sorted
    if (scoring.isEmpty) return Seq.empty
    val n = v.stats.n
    val avgdls = avgdlOf(v.stats)
    val dfByTerm = dfOf(v, scoring)
    val entries = postingsFor(scoring, v)
      .filter($"firstDocId" <= docId && $"lastDocId" >= docId)
      .collect().toSeq
      .flatMap { s =>
        val (ids, tfs, dls) = PostingCodec.decodeAll(s)
        val i = java.util.Arrays.binarySearch(ids, docId)
        if (i < 0) None
        else {
          val boost = rq.boosts.getOrElse(s.term, 1.0)
          val idfv = BM25.idf(n, dfByTerm(s.term)) * boost
          Some(QueryEngine.ExplainEntry(s.term, tfs(i), dls(i),
            dfByTerm(s.term), BM25.idf(n, dfByTerm(s.term)), boost,
            BM25.score(tfs(i), dls(i), avgdls(s.term), idfv)))
        }
      }
      .sortBy(_.term)
    // edismax tie factors: the entry list IS the term-sorted contribution
    // list, so the per-entry factored scores still left-fold to the hit
    // score bit-for-bit
    val scores = entries.map(_.score).toArray
    new Wand.TieFold(entries.map(e => rq.groups.getOrElse(e.term, 0)).toArray,
      rq.tie)(scores)
    entries.zip(scores).map { case (e, f) => e.copy(score = f) }
  }

  /** Per-term avgdl (per-field BM25 length norms; title terms carry the
    * "title:" key prefix).
    */
  private def avgdlOf(s: CorpusStats): Wand.FieldAvgdl =
    Wand.FieldAvgdl(s.avgdl, s.titleAvgdl)

  // -------------------------------------------------- dictionary expansion

  /** Evaluates one dictionary-expansion rule as one scan of the sorted term
    * column: the field keyspace and the rule's key range reach parquet as
    * pushed filters (row-group min/max prunes every bucket file; a key
    * hashes across buckets, so bucket pruning does not apply), `accepts`
    * runs as a typed filter before the distinct, and the sorted, capped
    * result mirrors [[QueryResolve.dictMatch]], the in-memory twin the
    * sequential oracle uses. Rank identity depends on both expanding alike.
    *
    * Documented divergence window (ADVICE r3): the scan walks the RAW
    * dictionary, which retains terms whose only postings are tombstoned /
    * superseded docs. A fully-dead term expands but matches nothing — no
    * rank effect — EXCEPT when a rule matches more than its cap
    * ([[QueryResolve.MaxPrefixExpansion]]): a dead term inside the
    * lexicographically-first cap then displaces a live term beyond it,
    * while an oracle over the live corpus would not (Lucene diverges the
    * same way: deleted docs stay in the terms dict until merge). Compaction
    * drops dead terms and restores exact agreement — covered by the
    * EngineSpec "over-cap prefix + deletes" fixture.
    */
  private def dictScan(v: IndexView, m: QueryResolve.DictMatch)
      : Dataset[String] = {
    var scan =
      if (m.fieldPfx.isEmpty) v.postings.filter(!$"term".contains(":"))
      else v.postings.filter($"term".startsWith(m.fieldPfx))
    m.lo.foreach { case (b, inc) =>
      scan = scan.filter(if (inc) $"term" >= b else $"term" > b) }
    m.hi.foreach { case (b, inc) =>
      scan = scan.filter(if (inc) $"term" <= b else $"term" < b) }
    val accepts = m.accepts // closures must not capture the engine
    val pfxLen = m.fieldPfx.length
    scan.select($"term").as[String]
      .filter(t => accepts(t.substring(pfxLen)))
      .distinct().orderBy($"term").limit(m.cap)
  }

  /** Plan-audit hook (ExplainCheck): the physical plan of a rule's scan,
    * whose keyspace and key range must reach parquet as PushedFilters.
    */
  def dictScanPlan(m: QueryResolve.DictMatch): String =
    dictScan(view, m).queryExecution.executedPlan.toString

  private def expand(v: IndexView, key: String,
      m: QueryResolve.DictMatch): Seq[String] =
    cached(v.prefixCache, key)(dictScan(v, m).collect().toSeq)

  /** The four dictionary-expansion rules over one index snapshot. */
  private def expander(v: IndexView): QueryResolve.Expander =
    QueryResolve.expanderOf(expand(v, _, _))

  // ------------------------------------------------------- filter predicates

  /** Stored-field predicate over the docs table (SeqOracle.fieldFilterOk is
    * the sequential twin — semantics must stay aligned).
    */
  private def filterPredicate(ast: QueryAst): Option[Column] = {
    var preds = List.empty[Column]
    ast.langFilter.foreach(l => preds ::= ($"lang" === l))
    ast.urlFilter.foreach(u => preds ::= $"url".contains(u))
    ast.rangeFilters.foreach { rf =>
      val c = col(rf.field)
      def b(v: String): Column =
        if (rf.field == "warc_ts") lit(v).cast("timestamp") else lit(v)
      rf.lo.foreach(v => preds ::= (if (rf.incLo) c >= b(v) else c > b(v)))
      rf.hi.foreach(v => preds ::= (if (rf.incHi) c <= b(v) else c < b(v)))
    }
    preds.reduceOption(_ && _)
  }

  /** At most MaxDriverFilterDocs docIds of a one-column docId frame,
    * sorted; None = too large for the driver.
    */
  private def boundedIds(ids: DataFrame): Option[Array[Long]] = {
    val a = ids.as[Long].limit(QueryEngine.MaxDriverFilterDocs + 1).collect()
    if (a.length > QueryEngine.MaxDriverFilterDocs) None
    else { java.util.Arrays.sort(a); Some(a) }
  }

  /** filterCache key of one driver filter set: its scope (q's stored-field
    * filters, or "fq" for a single term fq) plus everything its docId set
    * depends on — the fq strings, df and qOp. Parts are length-prefixed, so
    * no two part lists share a key whatever characters the strings hold.
    */
  private def filterCacheKey(scope: String, fq: Seq[String], df: String,
      qOp: String): String =
    (scope +: df +: qOp +: fq).map(p => s"${p.length}:$p").mkString

  /** Driver-side filter structures of one query on a snapshot, for the
    * match-all page walk and the driver WAND offer test ([[admits]]):
    *  - allow arrays: the stored-field predicate (q's filters + pure-filter
    *    fqs) as one sorted array, each term fq another; a doc must appear
    *    in EVERY array (fq intersection semantics). Each set reads through
    *    the view's filterCache — Solr's filterCache: first use pays the
    *    match-set job, repeats are a map lookup;
    *  - deny ids: the tombstones, through the view's denyCache keyed by
    *    the current tombstone listing ([[denyIds]]) — a delete changes the
    *    key, so the next query re-reads them and the repeat after is a hit.
    * None = some set is over the driver cap → the caller takes the
    * relational/distributed plan instead of materializing it.
    */
  private def driverFilters(v: IndexView, ast: QueryAst, fq: Seq[String],
      df: String, qOp: String): Option[(Seq[Array[Long]], Array[Long])] = {
    def cachedIds(key: String)(ids: => DataFrame): Option[Array[Long]] =
      cached(v.filterCache, key, (_: Option[Array[Long]]).isDefined)(
        boundedIds(ids))
    val (fqPreds, fqTermAsts) = fqSplit(fq, df, qOp)
    val scope = s"${ast.langFilter}|${ast.urlFilter}|${ast.rangeFilters}"
    val predIds: Option[Seq[Array[Long]]] =
      (filterPredicate(ast).toSeq ++ fqPreds).reduceOption(_ && _) match {
        case None    => Some(Nil)
        case Some(p) =>
          cachedIds(filterCacheKey(scope, fq, df, qOp))(
            v.docs.filter(p).select($"docId")).map(Seq(_))
      }
    val allow = fqTermAsts.foldLeft(predIds) { case (acc, (s, fqAst)) =>
      acc.flatMap(arrs => cachedIds(filterCacheKey("fq", Seq(s), df, qOp))(
        fqMatchSet(v, fqAst)).map(arrs :+ _))
    }
    for (a <- allow; d <- denyIds(v)) yield (a, d)
  }

  /** The driver offer test: `id` is in every sorted allow array and not in
    * the sorted deny array.
    */
  private def admits(allow: Seq[Array[Long]], deny: Array[Long])(
      id: Long): Boolean =
    allow.forall(a => java.util.Arrays.binarySearch(a, id) >= 0) &&
      (deny.isEmpty || java.util.Arrays.binarySearch(deny, id) < 0)

  // ---------------------------------------------------------------- WAND

  def searchWand(q: String, k: Int, df: String = "text",
      after: Option[Wand.Scored] = None, fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): DataFrame =
    searchWandV(snapshot(), q, k, df, after, fq, qOp, qf, tie)

  /** Split parsed fqs into (pure stored-field predicates — mergeable into
    * the docs-table filter for free) and (term-bearing asts — each a match
    * set). A degenerate fq (no terms, no filters) is rejected loudly: it
    * would silently constrain to nothing or to everything depending on the
    * reading, and Solr errors on an empty fq too.
    */
  private def fqSplit(fq: Seq[String], df: String,
      qOp: String): (Seq[Column], Seq[(String, QueryAst)]) = {
    val preds = Seq.newBuilder[Column]
    val terms = Seq.newBuilder[(String, QueryAst)]
    fq.foreach { s =>
      val ast = QueryParser.parse(s, df, qOp)
      if (ast.matchAll) () // fq=*:* constrains nothing (Solr accepts it)
      else if (ast.scoringLits.nonEmpty) terms += ((s, ast))
      else filterPredicate(ast) match {
        case Some(p) => preds += p
        case None => throw new IllegalArgumentException(
          s"fq '$s' has no terms and no stored-field filters")
      }
    }
    (preds.result(), terms.result())
  }

  /** Match-set DataFrame (docId) of one term-bearing fq on a snapshot —
    * its own stored-field filters and the tombstone view are already
    * applied by [[scoredCandidates]]; scores are skipped entirely.
    */
  private def fqMatchSet(v: IndexView, ast: QueryAst): DataFrame =
    scoredCandidates(ast, v, needScores = false).select($"docId")

  /** [[searchWand]] against an explicit snapshot — lets composite
    * operations (MLT: term selection + search) evaluate BOTH halves on ONE
    * IndexView instead of re-reading the volatile between them.
    */
  private def searchWandV(v: IndexView, q: String, k: Int, df: String,
      after: Option[Wand.Scored], fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): DataFrame = {
    // every read below sees the same snapshot
    val ast = QueryParser.parse(q, df, qOp, qf, tie)
    if (ast.matchAll) {
      // match-all needs no WAND. Driver fast path first (review r5): when
      // the fq filter sets and the tombstone set are all bounded, the page
      // is an intersection of per-view CACHED sorted docId arrays, so a
      // repeated `q=*:* fq=…` costs zero Spark jobs after the first use. A
      // zero driver threshold (--distributed) forces the relational plan
      // here too, keeping the flag's force-the-distributed-shape contract.
      val filters =
        if (driverWandMaxSegments <= 0) None
        else driverFilters(v, ast, fq, df, qOp)
      filters match {
        case Some((allow, deny)) if allow.nonEmpty =>
          // the smallest allow array drives; arrays are sorted, and with
          // every score a constant 1.0 ascending docId IS the rank order
          val base = allow.minBy(_.length)
          val inRest = admits(allow.filterNot(_ eq base), deny) _
          val pass: Long => Boolean = after match {
            case None    => _ => true
            case Some(a) =>
              if (a.score > 1.0) _ => true
              else if (a.score == 1.0) id => id > a.docId
              else _ => false // every match scores exactly 1.0
          }
          return base.iterator.filter(id => pass(id) && inRest(id)).take(k)
            .map(Wand.Scored(_, 1.0)).toSeq.toDS().toDF()
        case _ => // something unbounded, or no fq at all → relational plan
      }
      // relational fallback: docs-table docId scan (constant score 1.0)
      // ∖ tombstones, ∩ fq match sets, TakeOrderedAndProject(k) — the same
      // plan at any parallelism, so driver/distributed/exhaustive agree
      return rankPage(applyFq(v, fq, df, qOp)(scoredCandidates(ast, v)),
        after, k)
    }
    val rq = QueryResolve.resolve(ast, expander(v))
    val scoring = rq.scoringTerms // distinct + sorted by resolve
    val clauses = rq.clauses
    val not = clauses.flatMap(_.notTerms).distinct.sorted
    if (scoring.isEmpty || clauses.isEmpty) return emptyResult
    val n = v.stats.n
    val avgdls = avgdlOf(v.stats)

    // plan construction alone costs 10s of ms — build only on cache miss
    lazy val segs = postingsFor(scoring ++ not, v)

    // small-query fast path: k·segments fits on the driver → skip the
    // shuffle stage entirely (one scan job, cached only under the
    // threshold). A zero threshold (--distributed) sends every query to the
    // distributed path, so it skips the probe job too.
    val sample: Option[Array[PostingSegment]] =
      if (driverWandMaxSegments <= 0) None
      else Some(cached(v.segCache, (scoring ++ not).mkString("\u0000"),
        (_: Array[PostingSegment]).length <= driverWandMaxSegments)(
        segs.take(driverWandMaxSegments + 1)))
    val driverInput = for {
      s <- sample if s.length <= driverWandMaxSegments
      filters <- driverFilters(v, ast, fq, df, qOp) // None: over the cap
    } yield (s, filters)
    driverInput match {
      case Some((s, (allow, deny))) =>
        val byTerm = s.toSeq.groupBy(_.term)
        val dfByTerm = byTerm.map { case (t, ss) =>
          t -> ss.map(_.count.toLong).sum
        }
        val allowFn: Option[Long => Boolean] =
          if (allow.isEmpty && deny.isEmpty) None
          else Some(admits(allow, deny))
        val top = Wand.topK(byTerm, dfByTerm, scoring, clauses,
          n, avgdls, k, 0L, Long.MaxValue, allowFn, rq.boosts, after,
          rq.groups, rq.tie)
        return top.toSeq.toDS().toDF()
      case None => // → distributed path
    }

    // ---- distributed windowed WAND: one Spark job ----
    // window length from the docId-SPACE extent, not the live-doc count:
    // after delete/compaction cycles maxDocId can exceed n, and sizing by n
    // would fragment the space into more windows than intended (r5 — the
    // high-water mark now rides in stats; -1 = pre-r5 stats, fall back to
    // n). Cap so window-local filter bitmaps stay ≤ 8 MiB regardless of
    // corpus size (also kills any 2^31-docId assumption).
    val parallelism = math.max(1, spark.sparkContext.defaultParallelism)
    val idSpace = math.max(n, v.stats.maxDocId + 1)
    val rangeLen = math.min(
      math.max(1L, (idSpace + parallelism - 1) / parallelism), 1L << 26)
    val windows = ((idSpace + rangeLen - 1) / rangeLen).toInt

    // allow set = stored-field predicate (pure-filter fqs conjunct into it)
    // ∩ every term-fq match set, pre-intersected IN the plan (left-semi
    // chain): fq intersection cannot be expressed post-union on one bitmap
    val (fqPreds, fqTermAsts) = fqSplit(fq, df, qOp)
    val pred = (filterPredicate(ast).toSeq ++ fqPreds).reduceOption(_ && _)
    val allowIds: Option[DataFrame] =
      (pred.map(p => v.docs.filter(p).select($"docId")).toSeq ++
        fqTermAsts.map { case (_, fqAst) => fqMatchSet(v, fqAst) })
        .reduceOption((a, b) => a.join(b, Seq("docId"), "left_semi"))
    val hasAllow = allowIds.isDefined

    // hoisted so task closures do not capture the whole ResolvedQuery
    val boostsB = rq.boosts
    val groupsB = rq.groups
    val tieB = rq.tie

    // one shuffle keyed by window: segments with their partial df, allow
    // ids and tombstone ids, each input tagging its own rows. A bounded deny
    // set enters from the driver's cache as one partition, in place of a
    // scan of the tombstone tables
    val idsByWindow = (ids: DataFrame, deny: Boolean) =>
      ids.as[Long].rdd.mapPartitions(QueryEngine.idRows(_, rangeLen, deny))
    val denyRows = denyIds(v) match {
      case Some(d) if d.isEmpty => None
      case Some(d) => Some(spark.sparkContext.parallelize(d.toSeq, 1)
        .mapPartitions(QueryEngine.idRows(_, rangeLen, true)))
      case None => tombstones(v).map(idsByWindow(_, true))
    }
    val rows = spark.sparkContext.union(
      segs.rdd.mapPartitions(QueryEngine.segmentRows(_, rangeLen, windows)) +:
        (allowIds.map(idsByWindow(_, false)) ++ denyRows).toSeq)
    val top = rows
      // Int keys in [0, windows) hash to themselves: partition id = window id
      .partitionBy(new org.apache.spark.HashPartitioner(windows))
      .mapPartitions(QueryEngine.windowInputs(_, rangeLen, hasAllow)
        .flatMap { w =>
          Wand.topK(w.segs.groupBy(_.term), w.df, scoring, clauses, n,
            avgdls, k, w.lo, w.lo + rangeLen, w.allow, boostsB, after,
            groupsB, tieB)
        })
      .collect()
    // windows are docId-disjoint, so their top-k lists merge exactly
    top.sortWith((a, b) => a.score > b.score ||
        (a.score == b.score && a.docId < b.docId))
      .take(k).toSeq.toDS().toDF()
  }

  // ---------------------------------------------------------- exhaustive

  /** Constrain a match-set/candidates frame (must carry `docId`) by fq
    * queries: each pure-filter fq and each term fq intersects via
    * left-semi join, scores untouched — the relational twin of the WAND
    * paths' allow structures, shared by the exhaustive path and every
    * match-set consumer (facet/stats/sort/group/range/pivot — Solr applies
    * fq to all of them).
    */
  private def applyFq(v: IndexView, fq: Seq[String], df: String,
      qOp: String = "OR")(cands: DataFrame): DataFrame = {
    if (fq.isEmpty) return cands
    val (fqPreds, fqTermAsts) = fqSplit(fq, df, qOp)
    var out = cands
    fqPreds.reduceOption(_ && _).foreach { p =>
      out = out.join(v.docs.filter(p).select($"docId"),
        Seq("docId"), "left_semi")
    }
    fqTermAsts.foreach { case (_, fqAst) =>
      out = out.join(fqMatchSet(v, fqAst), Seq("docId"), "left_semi")
    }
    out
  }

  def searchExhaustive(q: String, k: Int, df: String = "text",
      after: Option[Wand.Scored] = None, fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): DataFrame = {
    val v = snapshot() // one snapshot for the query and every fq match set
    val ast = QueryParser.parse(q, df, qOp, qf, tie)
    // fq constraint = semi-join per source; scores are untouched (the
    // q-vs-fq split: fq never contributes score)
    rankPage(applyFq(v, fq, df, qOp)(scoredCandidates(ast, v)), after, k)
  }

  /** The k candidates ranking strictly after the searchAfter anchor in
    * (-score, docId) order — one TakeOrderedAndProject. Scores are
    * bit-identical across paths, so the double-equality branch of the rank
    * comparison is exact.
    */
  private def rankPage(cands: DataFrame, after: Option[Wand.Scored],
      k: Int): DataFrame =
    after.fold(cands)(a => cands.filter($"score" < a.score ||
        ($"score" === a.score && $"docId" > a.docId)))
      .orderBy(desc("score"), asc("docId")).limit(k)

  /** Deterministic per-doc score fold over the collected (term, score)
    * contributions: ordered aggregate over the term-sorted array —
    * bit-identical to the WAND scoreAt loop and the oracle at any
    * parallelism. With edismax tie groups (qf, tie != 1) each entry takes
    * the ResolvedQuery.groups factor: first group member at the group max
    * keeps 1, other members ×tie, ungrouped 1 — evaluated with pure
    * codegen'd higher-order array functions (O(terms²) per doc over ≤ a
    * handful of query terms), no UDF.
    */
  private def scoreFold(rq: ResolvedQuery): Column = {
    if (rq.groups.isEmpty || rq.tie == 1.0)
      aggregate(
        sort_array(collect_list(struct($"term", $"score"))),
        lit(0.0),
        (acc, x) => acc + x.getField("score"))
    else {
      val gcol = coalesce(
        element_at(typedLit(rq.groups), $"term"), lit(0)).as("gid")
      val arr = sort_array(collect_list(struct($"term", $"score", gcol)))
      val tieV = rq.tie
      aggregate(
        sequence(lit(0), size(arr) - 1),
        lit(0.0),
        (acc, i) => {
          val x = element_at(arr, i + 1)
          val g = x.getField("gid")
          val s = x.getField("score")
          val gmax = array_max(transform(
            filter(arr, y => y.getField("gid") === g),
            y => y.getField("score")))
          val firstMax = !exists(slice(arr, lit(1), i),
            y => y.getField("gid") === g && y.getField("score") === gmax)
          acc + when(g === lit(0), s)
            .otherwise(when(s === gmax && firstMax, s)
              .otherwise(lit(tieV) * s))
        })
    }
  }

  /** All matching (docId, score) as a DataFrame — the pure-Catalyst match
    * set behind searchExhaustive and every match-set consumer. One pruned
    * scan of every query term (scoring + negative), a per-doc fold in
    * term-sorted order (bit-identical scores at any parallelism), and
    * clause evaluation that splits on phrase presence (VERDICT r4 #4):
    * phrase-FREE queries — the shape facet() sends to production — run
    * entirely in codegen (collect_set + arrays_overlap, no positions
    * decoded or shipped); only queries that actually contain a phrase take
    * the positions-collecting UDF path, the slow regression anchor.
    *
    * @param needScores false = match set only (facet/stats/sort consumers
    *   discard scores): BM25 per-posting arithmetic, the df broadcast's
    *   score use, and the whole per-doc term-sorted fold are skipped — the
    *   groupBy aggregates just collect_set(term) for clause evaluation and
    *   the returned frame has docId only.
    */
  private def scoredCandidates(ast: QueryAst, v: IndexView,
      needScores: Boolean = true): DataFrame = {
    if (ast.matchAll) {
      // Solr q=*:* — every live doc matches at constant score 1.0: one
      // narrow docId scan of the docs tables, no postings touched, ranked
      // by docId (the constant-score tiebreak). Pure *:* carries no
      // stored-field filters (the parser rejects inline combination), so
      // only the tombstone view applies; fq constraints join in at the
      // consumer via applyFq exactly as for term queries.
      var scored =
        if (needScores) v.docs.select($"docId", lit(1.0).as("score"))
        else v.docs.select($"docId")
      tombstones(v).foreach { t =>
        scored = scored.join(t.select($"docId"), Seq("docId"), "left_anti")
      }
      return scored
    }
    val rq = QueryResolve.resolve(ast, expander(v))
    val scoring = rq.scoringTerms
    val clauses = rq.clauses
    if (scoring.isEmpty || clauses.isEmpty) return emptyResult
    val not = clauses.flatMap(_.notTerms).distinct
    val phraseTerms = clauses.flatMap(_.phrases.flatMap(_.terms)).distinct.toSet
    val allTerms = (scoring ++ not).distinct
    val n = v.stats.n
    val avgdls = avgdlOf(v.stats)

    // per-term global df for idf: tiny agg over the pruned scan
    val dfByTerm = dfOf(v, allTerms)
    val bDf = spark.sparkContext.broadcast(dfByTerm)

    val scoringSet = scoring.toSet
    val boostsB = rq.boosts // hoisted: closures must not capture rq
    val hasPhrases = clauses.exists(_.phrases.nonEmpty)

    var scored: DataFrame = if (!hasPhrases) {
      // phrase-free (the facet/production shape, VERDICT r4 #4): positions
      // are never decoded, never shipped, never collected, and clause
      // evaluation is a pure Catalyst predicate over the per-doc term set
      // (arrays_overlap, codegen'd) — no UDF anywhere in the plan
      val rows = postingsFor(allTerms, v).flatMap { s =>
        val idfv = BM25.idf(n, bDf.value(s.term)) *
          boostsB.getOrElse(s.term, 1.0)
        val avg = avgdls(s.term)
        val isScoring = needScores && scoringSet.contains(s.term)
        val (ids, tfs, dls) = PostingCodec.decodeAll(s)
        Iterator.tabulate(s.count) { i =>
          (ids(i), s.term,
            if (isScoring) BM25.score(tfs(i), dls(i), avg, idfv) else 0.0)
        }
      }.toDF("docId", "term", "score")
      // deterministic per-doc score: fold term contributions in term-sorted
      // order via sort_array + aggregate (bit-identical at any parallelism);
      // match-set-only consumers skip the fold entirely
      val perDoc =
        if (needScores) rows.groupBy($"docId").agg(
          scoreFold(rq).as("score"),
          collect_set($"term").as("present"))
        else rows.groupBy($"docId")
          .agg(collect_set($"term").as("present"))
      val clausePred: Column = clauses.map { c =>
        val musts = c.mustGroups.map(g =>
            arrays_overlap($"present", array(g.map(lit): _*)))
          .reduceOption(_ && _).getOrElse(lit(true))
        val notsOk =
          if (c.notTerms.isEmpty) lit(true)
          else !arrays_overlap($"present", array(c.notTerms.map(lit): _*))
        musts && notsOk
      }.reduce(_ || _)
      if (needScores) perDoc.filter(clausePred).select($"docId", $"score")
      else perDoc.filter(clausePred).select($"docId")
    } else {
      // phrase clauses need per-term positions: decode them only for the
      // phrase terms and evaluate clauses with the shared matcher over the
      // doc's collected (term, positions) list — the slow regression-anchor
      // shape, reached only when the query actually contains a phrase
      val rows = postingsFor(allTerms, v).flatMap { s =>
        val idfv = BM25.idf(n, bDf.value(s.term)) *
          boostsB.getOrElse(s.term, 1.0)
        val avg = avgdls(s.term)
        val isScoring = needScores && scoringSet.contains(s.term)
        val needPos = phraseTerms.contains(s.term)
        val (ids, tfs, dls) = PostingCodec.decodeAll(s)
        val poss = if (needPos) PostingCodec.decodePositions(s) else null
        Iterator.tabulate(s.count) { i =>
          (ids(i), s.term,
            if (isScoring) BM25.score(tfs(i), dls(i), avg, idfv) else 0.0,
            if (needPos) poss(i).toSeq else Seq.empty[Int])
        }
      }.toDF("docId", "term", "score", "positions")

      val perDoc =
        if (needScores) rows.groupBy($"docId").agg(
          scoreFold(rq).as("score"),
          collect_list(struct($"term", $"positions")).as("tps"))
        else rows.groupBy($"docId")
          .agg(collect_list(struct($"term", $"positions")).as("tps"))

      val clausesLocal: Array[(Array[Array[String]], Array[String], Array[(Array[String], Int)])] =
        clauses.map(c => (c.mustGroups.map(_.toArray).toArray,
          c.notTerms.toArray,
          c.phrases.map(p => (p.terms.toArray, p.slop)).toArray)).toArray
      val clauseOk = udf { (tps: Seq[org.apache.spark.sql.Row]) =>
        val present = tps.map(_.getString(0)).toSet
        lazy val posByTerm: Map[String, Array[Int]] = tps.map(r =>
          r.getString(0) -> r.getSeq[Int](1).toArray).toMap
        clausesLocal.exists { case (groups, nots, phrases) =>
          groups.forall(_.exists(present.contains)) &&
          !nots.exists(present.contains) &&
          phrases.forall { case (ph, slop) => Wand.phraseMatch(
            ph.toSeq.map(t => posByTerm.getOrElse(t, Array.empty[Int])), slop) }
        }
      }
      if (needScores) perDoc.filter(clauseOk($"tps")).select($"docId", $"score")
      else perDoc.filter(clauseOk($"tps")).select($"docId")
    }

    filterPredicate(ast).foreach { p =>
      scored = scored.join(
        v.docs.filter(p).select($"docId"), Seq("docId"), "left_semi")
    }
    tombstones(v).foreach { t =>
      scored = scored.join(t.select($"docId"), Seq("docId"), "left_anti")
    }
    scored
  }

  /** The match set every consumer below starts from: q's matching docIds
    * (plus `score` when needScores) under fq — same df AND q.op as the
    * hits, since Solr's q.op is a global request param — joined to the
    * named docs-table columns when any are given. The caller passes the
    * [[snapshot]] so it can run further reads against the same view.
    */
  private def matchSet(v: IndexView, q: String, df: String,
      fq: Seq[String], qOp: String, qf: Seq[(String, Double)], tie: Double,
      cols: Seq[String] = Nil, needScores: Boolean = false): DataFrame = {
    val ms = applyFq(v, fq, df, qOp)(scoredCandidates(
      QueryParser.parse(q, df, qOp, qf, tie), v, needScores))
    if (cols.isEmpty) ms
    else ms.join(v.docs.select(("docId" +: cols).map(col): _*), Seq("docId"))
  }

  /** Query-time facet counts over ALL matching docs (the Solr facet.field
    * analog, SURVEY.md §2.6): match set → join to the docs table →
    * groupBy(field).count, ordered (count desc, value asc).
    *
    * @param topN Solr facet.limit; @param minCount Solr facet.mincount —
    *   values with fewer matches are dropped BEFORE the limit cut (a
    *   HAVING on the count agg; 1 = Solr's effective default here, since
    *   only values present in the match set ever have a row).
    * @param prefix Solr facet.prefix — only values whose string form starts
    *   with it are counted (applied before mincount and the limit cut, as
    *   Solr restricts the term enumeration itself).
    * @param sortIndex Solr facet.sort=index — order values lexically
    *   ascending instead of (count desc, value asc); the limit cuts in
    *   THAT order, so the two sorts can return different value SETS, not
    *   just different orders.
    */
  def facet(q: String, field: String, topN: Int = 20,
      df: String = "text", fq: Seq[String] = Nil,
      minCount: Long = 1L, qOp: String = "OR",
      prefix: Option[String] = None, sortIndex: Boolean = false,
      offset: Int = 0, qf: Seq[(String, Double)] = Nil, tie: Double = 0.0): DataFrame = {
    require(minCount >= 1, s"facet.mincount must be >= 1, got $minCount")
    require(offset >= 0, s"facet.offset must be >= 0, got $offset")
    val joined = matchSet(snapshot(), q, df, fq, qOp, qf, tie, Seq(field))
    // prefix restricts BEFORE the agg: Catalyst pushes the StartsWith into
    // the docs-side scan, so a selective prefix shrinks the shuffle too
    val restricted = prefix.fold(joined)(p =>
      joined.filter(col(field).cast("string").startsWith(p)))
    val counted = restricted
      .groupBy(col(field)).agg(count(lit(1)).as("cnt"))
      .filter($"cnt" >= minCount)
    val ordered =
      if (sortIndex) counted.orderBy(asc(field))
      else counted.orderBy(desc("cnt"), asc(field))
    // Solr facet.offset: skip the first `offset` values in the chosen
    // order (facet paging). Catalyst folds offset+limit over the sort
    // into one TakeOrderedAndProject(offset+topN) — the same cost shape
    // as Solr, which prices facet paging per offset+limit too
    if (offset == 0) ordered.limit(topN)
    else ordered.offset(offset).limit(topN)
  }

  /** Solr facet.query: for each sub-query, the count of docs in the MAIN
    * query's match set that also match the sub-query — every count in ONE
    * Spark job (sub match sets union-tagged by label, one semi-equi-join
    * against the base set, one groupBy), so N facet.queries never schedule
    * N corpus passes. Sub-queries with zero overlap report 0, as Solr
    * does. Output: (fquery, cnt) in the given sub-query order.
    */
  def facetQuery(q: String, subQueries: Seq[String],
      df: String = "text", fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): DataFrame = {
    require(subQueries.nonEmpty, "facet.query needs at least one sub-query")
    val v = snapshot() // one snapshot for the base and every sub match set
    val base = matchSet(v, q, df, fq, qOp, qf, tie)
    val tagged = subQueries.zipWithIndex.map { case (s, i) =>
      // q.op applies to facet.query strings too (one global parser flag)
      val ast = QueryParser.parse(s, df, qOp)
      val ms =
        if (ast.scoringLits.nonEmpty || ast.matchAll) fqMatchSet(v, ast)
        else filterPredicate(ast) match {
          case Some(p) => v.docs.filter(p).select($"docId")
          case None => throw new IllegalArgumentException(
            s"facet.query '$s' has no terms and no stored-field filters")
        }
      ms.withColumn("fqi", lit(i))
    }.reduce(_ unionByName _)
    val counted = base.join(tagged, Seq("docId"))
      .groupBy($"fqi").agg(count(lit(1)).as("cnt"))
      .as[(Int, Long)].collect().toMap
    subQueries.zipWithIndex
      .map { case (s, i) => (s, counted.getOrElse(i, 0L)) }
      .toDF("fquery", "cnt")
  }

  /** Query-time sort by a stored field — the Solr `sort=field asc|desc`
    * analog (score ordering is the default `search`; this is the other
    * half of that surface). Match set → join to the docs table →
    * TakeOrderedAndProject on (field, docId) — top-k never materializes
    * the full sorted match set, so the plan scales with matches, not with
    * a global sort. docId-ascending tiebreak in BOTH directions keeps the
    * page deterministic under ties (SeqOracle.topKSorted is the twin).
    */
  def searchSorted(q: String, sortField: String, ascending: Boolean, k: Int,
      df: String = "text", fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): DataFrame =
    searchSortedMulti(q, Seq((sortField, ascending)), k, df, fq, qOp, qf,
      tie)

  /** Solr compound sort (`sort=f1 desc, f2 asc`): the general form of
    * [[searchSorted]] — every key is a stored field with its own
    * direction, docId-ascending is the final tiebreak. Same plan shape
    * (match set → docs join → TakeOrderedAndProject on the key tuple), so
    * cost scales with matches, never a global sort. Score cannot appear as
    * a sort key here: mixing relevance into a field sort needs the field
    * value at WAND offer time — the doc-values gap documented in
    * SURVEY.md §2.9 (function queries); Solr itself serves that case from
    * docvalues. SeqOracle.topKSortedMulti is the twin.
    */
  def searchSortedMulti(q: String, sorts: Seq[(String, Boolean)], k: Int,
      df: String = "text", fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): DataFrame = {
    require(sorts.nonEmpty, "sort needs at least one field")
    sorts.foreach { case (f, _) =>
      require(QueryEngine.SortableFields.contains(f),
        s"sort field '$f' unsupported (stored: " +
          s"${QueryEngine.SortableFields.mkString(", ")})")
    }
    require(sorts.map(_._1).distinct.size == sorts.size,
      s"sort lists a field twice: ${sorts.map(_._1).mkString(", ")}")
    val dirs = sorts.map { case (f, a) => if (a) asc(f) else desc(f) } :+
      asc("docId")
    matchSet(snapshot(), q, df, fq, qOp, qf, tie, sorts.map(_._1))
      .orderBy(dirs: _*)
      .limit(k)
  }

  /** Solr /export handler analog: the FULL match set — every matching doc,
    * not a page — with the requested stored fields, globally ordered by a
    * stored field (docId tiebreak, like sort=). Where `search` is a top-k
    * heap (TakeOrderedAndProject, O(k) memory anywhere) and `searchSorted`
    * caps at k, this is the bulk-egress path: a range-partitioned
    * distributed sort whose output PARTITIONS cover disjoint sort-key
    * ranges, so writing the returned frame yields a set of
    * internally-sorted, range-disjoint files — exactly how /export streams
    * a billion-row result without any single node holding it. No collect,
    * no limit, no score (Solr /export cannot sort by score either; it
    * exists to bypass scoring). fq/q.op apply as everywhere else.
    */
  def exportMatches(q: String, fields: Seq[String], sortField: String,
      ascending: Boolean = true, df: String = "text",
      fq: Seq[String] = Nil, qOp: String = "OR",
      qf: Seq[(String, Double)] = Nil, tie: Double = 0.0): DataFrame = {
    require(QueryEngine.SortableFields.contains(sortField),
      s"export sort field '$sortField' unsupported (stored: " +
        s"${QueryEngine.SortableFields.mkString(", ")})")
    require(fields.nonEmpty && fields.forall(
      QueryEngine.SortableFields.contains),
      s"export fl fields must be stored docs columns: " +
        s"${QueryEngine.SortableFields.toSeq.sorted.mkString(", ")}")
    val dir = if (ascending) asc(sortField) else desc(sortField)
    matchSet(snapshot(), q, df, fq, qOp, qf, tie,
      (fields :+ sortField).distinct)
      .orderBy(dir, asc("docId"))
      .select(("docId" +: fields).distinct.map(col): _*)
  }

  /** Query-time range facet over `warc_ts` — the Solr `facet.range` analog:
    * counts of matching docs per `[start + i*gap, start + (i+1)*gap)`
    * bucket within `[start, end)`; empty buckets are omitted (Solr
    * mincount=1). One groupBy over the match set; the bucket index is
    * integer arithmetic on the pushed-down timestamp column.
    */
  def facetRange(q: String, startIso: String, endIso: String, gapSec: Long,
      df: String = "text", fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): DataFrame = {
    require(gapSec > 0, "facet.range gap must be positive")
    val startMs = java.time.Instant.parse(startIso).toEpochMilli
    val endMs = java.time.Instant.parse(endIso).toEpochMilli
    require(endMs > startMs, "facet.range end must be after start")
    matchSet(snapshot(), q, df, fq, qOp, qf, tie, Seq("warc_ts"))
      .withColumn("ts_ms", unix_millis($"warc_ts"))
      .filter($"ts_ms" >= startMs && $"ts_ms" < endMs)
      .withColumn("bucket",
        floor(($"ts_ms" - startMs) / (gapSec * 1000L)).cast("long"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("bucket_start",
        timestamp_millis($"bucket" * (gapSec * 1000L) + startMs))
      .select($"bucket_start", $"cnt")
      .orderBy($"bucket_start")
  }

  /** Numeric facet.range (r5): the same bucketed counts as [[facetRange]]
    * over a stored NUMERIC field (doclen/titleLen) instead of warc_ts —
    * Solr ranges over any trie/point field. Buckets are
    * `[start + i·gap, start + (i+1)·gap)` within `[start, end)`; only
    * non-empty buckets return, bucket-ordered. Same plan shape: match set
    * → docs join → one groupBy. SeqOracle.facetRangeNumeric is the twin.
    */
  def facetRangeNumeric(q: String, field: String, start: Long, end: Long,
      gap: Long, df: String = "text", fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): DataFrame = {
    require(QueryEngine.NumericFields.contains(field),
      s"facet.range field '$field' unsupported (numeric stored: " +
        s"${QueryEngine.NumericFields.mkString(", ")})")
    require(gap > 0, "facet.range gap must be positive")
    require(end > start, "facet.range end must be after start")
    matchSet(snapshot(), q, df, fq, qOp, qf, tie, Seq(field))
      .filter(col(field) >= start && col(field) < end)
      .withColumn("bucket_start",
        floor((col(field) - start) / gap).cast("long") * gap + start)
      .groupBy($"bucket_start")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"bucket_start")
  }

  /** Solr stats-component analog (`stats.field=<numeric>`): count / min /
    * max / sum / mean of a stored numeric column over ALL matching docs.
    * One aggregation over the match-set join — no sort, no window.
    *
    * @param percentiles Solr stats `percentiles=` analog: percentage
    *   points in (0, 100), each adding a `pNN` column with the EXACT
    *   interpolated percentile (Spark's sort-based `percentile`, linear
    *   interpolation at rank p·(n−1) — Solr itself approximates with
    *   t-digest; exactness here is a strict upgrade and keeps the oracle
    *   twin bit-checkable). Null when nothing matches, like min/max.
    * @param calcDistinct Solr stats.calcdistinct: append an exact
    *   `countDistinct` column AFTER the percentiles (appended last so the
    *   fixed positions of the base schema never move).
    */
  def statsField(q: String, field: String, df: String = "text",
      fq: Seq[String] = Nil, qOp: String = "OR",
      percentiles: Seq[Double] = Nil,
      qf: Seq[(String, Double)] = Nil, tie: Double = 0.0,
      calcDistinct: Boolean = false): DataFrame = {
    require(QueryEngine.NumericFields.contains(field),
      s"stats field '$field' unsupported (numeric stored: " +
        s"${QueryEngine.NumericFields.mkString(", ")})")
    require(percentiles.forall(p => p > 0.0 && p < 100.0),
      s"stats percentiles must be in (0, 100), got $percentiles")
    val pCols = percentiles.map { p =>
      expr(s"percentile($field, ${p / 100.0})")
        .as(QueryEngine.percentileColName(p))
    }
    val dCols =
      if (calcDistinct) Seq(countDistinct(col(field)).as("countDistinct"))
      else Nil
    val aggCols = Seq(count(lit(1)).as("cnt"), min(field).as("min"),
      max(field).as("max"), sum(field).as("sum"),
      avg(field).as("mean")) ++ pCols ++ dCols
    matchSet(snapshot(), q, df, fq, qOp, qf, tie, Seq(field))
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** Solr result-grouping analog (`group.field=F&group.limit=k`): the top-k
    * docs by (-score, docId) within EVERY distinct value of a stored field.
    * Two-phase windowing keeps it scale-clean for low-cardinality fields
    * (lang): phase 1 ranks within (field, docId-salt) so no single task
    * ever sorts a whole group's match set; phase 2 ranks the ≤ k×S
    * survivors per group. One value of `field` therefore costs O(matches/S)
    * per task, not O(matches) — the same reasoning as the salted segment
    * encode (SURVEY.md skew note).
    */
  def searchGrouped(q: String, field: String, kPerGroup: Int,
      df: String = "text", fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): DataFrame = {
    require(QueryEngine.GroupableFields.contains(field),
      s"group field '$field' unsupported (string stored: " +
        s"${QueryEngine.GroupableFields.mkString(", ")})")
    require(kPerGroup > 0, "group.limit must be positive")
    val salts = 32
    import org.apache.spark.sql.expressions.Window
    val joined = matchSet(snapshot(), q, df, fq, qOp, qf, tie, Seq(field),
      needScores = true)
    val w1 = Window.partitionBy(col(field), pmod($"docId", lit(salts)))
      .orderBy(desc("score"), asc("docId"))
    val w2 = Window.partitionBy(col(field))
      .orderBy(desc("score"), asc("docId"))
    joined
      .withColumn("rnSalt", row_number().over(w1))
      .filter($"rnSalt" <= kPerGroup).drop("rnSalt")
      .withColumn("rank", row_number().over(w2))
      .filter($"rank" <= kPerGroup)
      .select(col(field), $"rank", $"docId", $"score")
      .orderBy(asc(field), asc("rank"))
  }

  /** Solr group.ngroups analog: the number of DISTINCT group values in the
    * match set. One distinct-count aggregate over the match-set join — no
    * window, no per-group ranking, partial aggregation map-side — so the
    * count costs one narrow shuffle at any corpus size (Solr itself warns
    * ngroups is priced separately from the groups page; same here).
    */
  def countGroups(q: String, field: String, df: String = "text",
      fq: Seq[String] = Nil, qOp: String = "OR",
      qf: Seq[(String, Double)] = Nil, tie: Double = 0.0): Long = {
    require(QueryEngine.GroupableFields.contains(field),
      s"group field '$field' unsupported (string stored: " +
        s"${QueryEngine.GroupableFields.mkString(", ")})")
    matchSet(snapshot(), q, df, fq, qOp, qf, tie, Seq(field))
      .agg(countDistinct(col(field)).as("ngroups"))
      .collect().head.getLong(0)
  }

  /** Solr facet.pivot=fieldA,fieldB analog over the match set: topA values
    * of the first stored field by total match count; within each, topB
    * values of the second by pair count (count desc, value asc at both
    * levels, like [[facet]]). Scale shape: ONE shuffle over the match-set
    * join (the pair agg); the per-A totals, topA cut, and per-A row_number
    * window all run on the aggregated pair table, and the topA set
    * broadcasts back into it.
    */
  def facetPivot(q: String, fieldA: String, fieldB: String, topA: Int = 5,
      topB: Int = 3, df: String = "text", fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): DataFrame = {
    require(QueryEngine.GroupableFields.contains(fieldA) &&
      QueryEngine.GroupableFields.contains(fieldB) && fieldA != fieldB,
      s"pivot fields must be distinct members of " +
        s"${QueryEngine.GroupableFields.mkString(", ")}")
    import org.apache.spark.sql.expressions.Window
    val ab = matchSet(snapshot(), q, df, fq, qOp, qf, tie,
      Seq(fieldA, fieldB))
      .groupBy(col(fieldA), col(fieldB)).agg(count(lit(1)).as("cnt"))
    val aTop = ab.groupBy(col(fieldA)).agg(sum($"cnt").as("a_cnt"))
      .orderBy(desc("a_cnt"), asc(fieldA)).limit(topA)
    ab.join(broadcast(aTop), Seq(fieldA))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(fieldA))
          .orderBy(desc("cnt"), asc(fieldB))).cast("int"))
      .filter($"rn" <= topB)
      .select(col(fieldA), $"a_cnt", col(fieldB), $"cnt", $"rn")
      .orderBy(desc("a_cnt"), asc(fieldA), asc("rn"))
  }

  /** Solr MoreLikeThis "interesting terms" (content-stream form —
    * mlt.mintf / mlt.mindf / mlt.maxqt): analyze the input text, keep terms
    * with tf ≥ minTf and df ≥ minDf, rank by tf·idf (BM25 idf — the one
    * scoring rule this engine has), and return the top maxTerms
    * (4-decimal-rounded score desc, term asc — the rounding keeps ln() ulp
    * wobble from flipping near-tied selections, same rule as the SQL-analog
    * op). df comes from SEGMENT METADATA only via the pruned dictionary
    * scan ([[suggest]]'s trick) — no posting decode; cost is one pruned
    * scan + one tiny agg bounded by the INPUT's vocabulary, not the corpus.
    * Like suggest, metadata df counts tombstoned/superseded postings until
    * compaction folds them — selection can differ from a live-df oracle on
    * an index with uncompacted deletes (the match phase still applies the
    * tombstone view, so RESULTS never resurrect deleted docs).
    */
  def interestingTerms(text: String, maxTerms: Int = 10, minTf: Int = 2,
      minDf: Long = 2L, df: String = "text"): Seq[String] = {
    interestingTermsV(snapshot(), text, maxTerms, minTf, minDf, df)
  }

  private def interestingTermsV(v: IndexView, text: String, maxTerms: Int,
      minTf: Int, minDf: Long, df: String): Seq[String] = {
    require(maxTerms > 0, "mlt.maxqt must be positive")
    val tfm = Analysis.tokenize(text).groupBy(identity)
      .map { case (t, a) => t -> a.length }
    val cand = tfm.collect { case (t, c) if c >= minTf => t }.toSeq.sorted
    if (cand.isEmpty) return Seq.empty
    val keyOf = cand.map(t => t -> QueryParser.termKey(df, t)).toMap
    val dfs = dfOf(v, cand.map(keyOf))
    cand.flatMap { t =>
      val d = dfs.getOrElse(keyOf(t), 0L)
      if (d >= minDf)
        Some((t, math.rint(BM25.idf(v.stats.n, d) * tfm(t) * 1e4) / 1e4))
      else None
    }.sortBy { case (t, s) => (-s, t) }.take(maxTerms).map(_._1)
  }

  /** Solr MoreLikeThis with the selected terms exposed (the CLI prints
    * them, Solr's mlt.interestingTerms=list): [[interestingTerms]] of the
    * input run as a plain OR query through the STANDARD search path — MLT
    * results inherit every search guarantee (rank identity across physical
    * paths, tombstone view, searchAfter paging) because they ARE a search.
    * Terms are analyzer output (`[a-z0-9]+`), so the reconstructed query
    * string is parser-safe by construction. Both halves evaluate against
    * ONE IndexView snapshot (CLAUDE.md: never re-read the volatile
    * mid-query) — a concurrent append/compaction cannot pair one state's
    * term selection with another's match set.
    */
  def moreLikeThisWithTerms(text: String, k: Int, maxTerms: Int = 10,
      minTf: Int = 2, minDf: Long = 2L, df: String = "text")
      : (Seq[String], DataFrame) = {
    val v = snapshot()
    val terms = interestingTermsV(v, text, maxTerms, minTf, minDf, df)
    if (terms.isEmpty) (terms, emptyResult)
    else (terms, searchWandV(v, terms.mkString(" OR "), k, df, None))
  }

  /** [[moreLikeThisWithTerms]], results only. */
  def moreLikeThis(text: String, k: Int, maxTerms: Int = 10, minTf: Int = 2,
      minDf: Long = 2L, df: String = "text"): DataFrame =
    moreLikeThisWithTerms(text, k, maxTerms, minTf, minDf, df)._2

  /** Solr spellcheck/suggest analog: live dictionary terms within
    * Damerau-Levenshtein ≤ 2 of the analyzed input, ranked
    * (distance asc, df desc, term asc) — "did you mean", frequency-first
    * like Solr's DirectSolrSpellChecker. Candidates come from the shared
    * fuzzy expansion (sort-and-cap-512); df comes from SEGMENT METADATA
    * only (column-pruned sum(count), the same trick compaction's hot-df
    * uses) — no posting decode, so the cost is one pruned dictionary scan
    * + one tiny agg regardless of corpus size.
    */
  def suggest(term: String, n: Int = 5, df: String = "text")
      : Seq[(String, Int, Long)] = {
    suggestV(snapshot(), term, n, df)
  }

  private def suggestV(v: IndexView, term: String, n: Int, df: String)
      : Seq[(String, Int, Long)] = {
    val toks = Analysis.tokenize(term)
    require(toks.length == 1,
      s"suggest input '$term' must analyze to a single token")
    val key = QueryParser.termKey(df, toks(0))
    val pfxLen = key.length - toks(0).length
    val cands = expander(v).fuzzy(key, 2)
    if (cands.isEmpty) return Seq.empty
    val dfs = dfOf(v, cands)
    cands.map { k =>
      val t = k.substring(pfxLen)
      (t, Fuzzy.distance(t, toks(0)), dfs.getOrElse(k, 0L))
    }.sortBy { case (t, d, c) => (d, -c, t) }.take(n)
  }

  /** Solr numFound / `rows=0` count idiom: the FULL match-set size of q
    * under fq — one needScores=false match-set job (codegen clause
    * evaluation, no BM25 arithmetic, no ranking, no collect of ids). The
    * per-page search surface deliberately does NOT report this (a top-k
    * page must not pay a full count); callers who need the number ask for
    * it explicitly, exactly like Solr's rows=0.
    */
  def countMatches(q: String, df: String = "text", fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): Long =
    matchSet(snapshot(), q, df, fq, qOp, qf, tie).count()

  /** Solr spellcheck.collate analog: rewrite the query with the TOP
    * suggestion for every EXACT scoring term absent from the dictionary,
    * returning the collated query plus its full match count — and only a
    * hit-bearing collation (Solr returns none otherwise). Rules, shared
    * verbatim with the oracle twin: every missing term must have a
    * suggestion; a token missing under several fields must get the SAME
    * suggestion in each (else no collation — ambiguous); the rewrite must
    * actually change the query string ([[Spellcheck.replaceToken]], the
    * one replacement rule both sides use); multi-term literals
    * (prefix/fuzzy/wildcard/range) and phrase-only terms are out of scope
    * — their zero-hit expansions are surface, not typos. Presence is
    * metadata-only like [[suggest]] (same tombstone caveat: a term whose
    * postings are all deleted still counts as present until compaction).
    */
  def collate(q: String, df: String = "text", qOp: String = "OR")
      : Option[(String, Long)] = {
    val v = snapshot() // one snapshot: presence check, suggestions, hit count
    // collation is a spellcheck surface: qf does not apply (Suggest CLI)
    val ast = QueryParser.parse(q, df, qOp)
    if (ast.matchAll) return None
    val exactKeys = ast.scoringLits.collect { case ExactLit(k) => k }.distinct
    if (exactKeys.isEmpty) return None
    val present = postingsFor(exactKeys, v).toDF()
      .select($"term").distinct().as[String].collect().toSet
    val missing = exactKeys.filterNot(present)
    if (missing.isEmpty) return None
    // replaceToken is string surgery over EVERY standalone occurrence of
    // the token, so a missing token is only correctable when no other
    // query construct uses it: not a phrase/multi-term/negative/filter
    // occurrence (the shared protected set) and not a PRESENT exact key in
    // another field (rewriting it would corrupt a hit-bearing term)
    val protectedToks = Spellcheck.protectedTokens(ast) ++
      present.map(k => k.substring(k.indexOf(':') + 1))
    var collated = q
    // token-ascending so multi-typo rewrites are order-deterministic
    val byTok = missing.groupBy(k => k.substring(k.indexOf(':') + 1))
    for ((tok, keys) <- byTok.toSeq.sortBy(_._1)) {
      if (protectedToks.contains(tok)) return None
      val cands = keys.map { k =>
        val field =
          if (k.contains(":")) k.substring(0, k.indexOf(':')) else "text"
        suggestV(v, tok, 1, field).headOption.map(_._1)
      }
      if (cands.exists(_.isEmpty) || cands.distinct.length != 1) return None
      collated = Spellcheck.replaceToken(collated, tok, cands.head.get)
    }
    if (collated == q) return None
    val hits = scoredCandidates(QueryParser.parse(collated, df, qOp), v,
      needScores = false).count()
    if (hits > 0) Some((collated, hits)) else None
  }

  /** Solr /terms analog: live dictionary terms starting with `prefix`
    * (analyzed, field-scoped) with their document frequencies, term-sorted,
    * capped by the shared expansion rule. Same metadata-only df as
    * [[suggest]].
    */
  def termsByPrefix(prefix: String, n: Int = 20, df: String = "text")
      : Seq[(String, Long)] = {
    val toks = Analysis.tokenize(prefix)
    require(toks.length == 1,
      s"terms prefix '$prefix' must analyze to a single token")
    val v = snapshot()
    val key = QueryParser.termKey(df, toks(0))
    val pfxLen = key.length - toks(0).length
    val cands = expander(v).prefix(key).take(n)
    if (cands.isEmpty) return Seq.empty
    val dfs = dfOf(v, cands)
    cands.map(k => (k.substring(pfxLen), dfs.getOrElse(k, 0L)))
  }

  /** Solr /terms `terms.regex` analog (r5): dictionary terms of the field
    * whose TOKEN part fully matches the Java regex, with global df summed
    * from segment metadata — term-ascending, capped at n. Like Solr's own
    * terms.regex (and this engine's leading-`*` wildcards), the scan is a
    * full pass over the field's vocabulary-bounded dictionary: an
    * arbitrary regex has no pushdown contract, and Solr documents the same
    * cost for its regex term enumeration. The regex is one
    * [[QueryResolve.DictMatch]] rule with cap n, run distributed by the
    * shared dictionary scan; only the capped matches come back to the
    * driver; an invalid pattern rejects loudly at compile.
    */
  def termsByRegex(pattern: String, n: Int = 20, df: String = "text")
      : Seq[(String, Long)] = {
    require(QueryParser.IndexedFields.contains(df),
      s"df='$df': indexed fields are ${QueryParser.IndexedFields.mkString(", ")}")
    // compile ONCE on the driver (loud on bad syntax); Pattern is
    // Serializable, so the executors reuse it instead of recompiling per
    // term (CLAUDE.md rule 8: per-element Pattern.compile is an allocation
    // storm over a large vocabulary)
    val rx = java.util.regex.Pattern.compile(pattern)
    val v = snapshot()
    val fieldPfx = if (df == "text") "" else df + ":"
    // cache in the view's prefixCache like every dictionary expansion; the
    // NUL-separated key cannot collide with term keys or pattern keys
    // (NUL never appears in either — the parser's cache-identity rule) —
    // a metachar-free regex like "w0001" would otherwise collide with the
    // plain-prefix entry for the same string
    val cacheKey = "re\u0000" + df + "\u0000" + n + "\u0000" + pattern
    val matched = expand(v, cacheKey,
      QueryResolve.DictMatch(fieldPfx, rx.matcher(_).matches(), None, None, n))
    if (matched.isEmpty) return Seq.empty
    val dfs = dfOf(v, matched)
    matched.map(k => (k.substring(fieldPfx.length), dfs.getOrElse(k, 0L)))
  }

  /** Real-time get by url — the Solr `/get?id=` analog the reference calls
    * at indexdata.py:1529–1533. Solr's RTG sees documents BEFORE commit;
    * the analog here: consult the newest ON-DISK segment's docs table even
    * when its pointer flip has not happened yet (an in-flight append
    * batch), layered over the published generations; the newest version of
    * the url wins (docIds are monotone across batches). Best-effort on the
    * uncommitted segment: a batch whose docs table is still being written
    * is simply not visible yet.
    */
  def realtimeGet(url: String): DataFrame = {
    // same staleness guard as the search paths: after an auto-compaction
    // GC's segment dirs, planning over the old segdirs would throw
    // PATH_NOT_FOUND (and stale docsmap entries would point at dead files)
    val v = snapshot() // ONE capture: segdirs/docs below must agree
    val latest = IndexLayout.latestSegDir(spark, indexDir).toSeq
      .filterNot(v.segdirs.contains)
      .filter(sd => // docs table fully written (job-commit marker)
        IndexLayout.committed(spark, IndexLayout.docsDir(s"$indexDir/$sd")))
    // docsmap pruning: each segment's per-file url min/max selects the
    // files that CAN contain the key, so planning is O(files containing
    // url) per generation instead of a footer-check task per docs file —
    // the at-10^12-docs shape (VERDICT r4 missing #3). A segment without a
    // docsmap (pre-docsmap index, or an in-flight append whose map is not
    // committed yet) falls back to its full docs dir.
    val paths = (v.segdirs ++ latest).flatMap { sd =>
      val docsDir = IndexLayout.docsDir(s"$indexDir/$sd")
      docsMapOf(v, sd, cache = v.segdirs.contains(sd)) match {
        case Some(entries) => entries.iterator
          .filter(e => utf8Le(e._2, url) && utf8Le(url, e._3))
          .map(e => s"$docsDir/${e._1}").toSeq
        case None => Seq(docsDir)
      }
    }
    var cand =
      if (paths.isEmpty) v.docs.where(lit(false)) // no file can hold the key
      else spark.read.parquet(paths: _*).filter($"url" === url)
    // a deleted doc must not resurface via /get (ADVICE r3): apply the SAME
    // tombstone view the search path anti-joins — global tombstones/ plus
    // supersedes of every segment in this RTG view (incl. the uncommitted
    // one, whose supersedes may not exist yet: best-effort like the rest)
    IndexLayout.readTombstones(spark, indexDir, v.segdirs ++ latest)
      .foreach(t => cand = cand.join(t, Seq("docId"), "left_anti"))
    cand.orderBy(desc("docId")).limit(1)
  }

  private def emptyResult: DataFrame =
    spark.emptyDataset[Wand.Scored].toDF()

  /** Search-then-delete (reference: searchindex.py:141–150 iterates hits and
    * deletes each id) — set-based instead of per-hit RPCs.
    */
  def deleteByQuery(q: String, k: Int): Long = {
    val ids = search(q, k).select($"docId").as[Long].collect()
    Deletes.delete(spark, indexDir, ids)
    ids.length.toLong
  }

  /** Delete EVERY match — the reference's real intent behind
    * `rows=100000` (searchindex.py:98: one giant page, then per-hit
    * deletes; it silently misses matches beyond the cap). Cursor-pages
    * through the ranking with [[search]]'s `after` anchor, so driver
    * memory is O(max(pageSize, flushEvery)) at ANY match count — the
    * 100×-safe shape. Page anchors depend only on the ranking, never on
    * the tombstones written so far, so ids are buffered and flushed as ONE
    * tombstone file per `flushEvery` docs: a 100M-match delete writes
    * ~100 files, not one tiny file per page for every later query's
    * tombstone scan to union (compaction folds them regardless).
    * Returns docs deleted.
    *
    * @param fq/@param qOp the SAME filter queries and default operator the
    *   caller's search surface used — the delete must tombstone exactly the
    *   match set the user was shown (Solr deleteByQuery with fq: the
    *   canonical `q=*:* fq=...` wipe deletes the fq-constrained subset,
    *   never the whole corpus).
    */
  def deleteAllByQuery(q: String, df: String = "text",
      pageSize: Int = 10000, flushEvery: Int = 1 << 20,
      fq: Seq[String] = Nil, qOp: String = "OR",
      qf: Seq[(String, Double)] = Nil, tie: Double = 0.0): Long = {
    var total = 0L
    // primitive accumulator: ArrayBuffer[Long] boxes every id into Object[]
    // (CLAUDE.md rule 8 — 8× the driver pages per flush window)
    val buf = new graft.index.LongBuf(math.min(flushEvery, 1 << 16))
    var after: Option[Wand.Scored] = None
    var done = false
    while (!done) {
      val page = search(q, pageSize, df, after, fq, qOp, qf, tie).collect()
        .map(r => Wand.Scored(r.getLong(0), r.getDouble(1)))
      page.foreach(p => buf.add(p.docId))
      total += page.length
      if (buf.length >= flushEvery) {
        Deletes.delete(spark, indexDir, buf.toArray.toSeq)
        buf.clear()
      }
      if (page.length < pageSize) done = true
      else after = Some(page.last)
    }
    if (buf.length > 0) Deletes.delete(spark, indexDir, buf.toArray.toSeq)
    total
  }
}

object QueryEngine {
  /** Hard cap on docIds a stored-field filter / tombstone set may
    * materialize on the DRIVER (fast path only); larger filters run in the
    * distributed windowed plan. 4M ids = 32 MB.
    */
  val MaxDriverFilterDocs: Int = 1 << 22

  /** One row of the distributed top-k shuffle, keyed by docId window. */
  private sealed trait WindowRow
  private final case class SegmentRow(seg: PostingSegment) extends WindowRow
  /** One map partition's term → Σ count over whole segments. */
  private final case class DfRow(df: Map[String, Long]) extends WindowRow
  /** One map partition's allow (or tombstone, `deny`) docIds in a window. */
  private final case class IdsRow(ids: Array[Long], deny: Boolean)
      extends WindowRow

  /** What one window's WAND runs over: its docId range start, its segment
    * slices, the global df and the window's allow/deny test (None = all).
    */
  private final case class WindowInput(lo: Long, segs: Seq[PostingSegment],
      df: Map[String, Long], allow: Option[Long => Boolean])

  /** Map side, posting segments: each segment keyed by its window; one that
    * spans several windows is cut into per-window block slices, so a window
    * receives only the bytes of its overlapping blocks. At the end of the
    * partition every window gets the partition's df, summed over WHOLE
    * segments (a slice's count covers only the slice), so the df rows a
    * window receives add up to the exact global df.
    */
  private def segmentRows(segs: Iterator[PostingSegment], rangeLen: Long,
      windows: Int): Iterator[(Int, WindowRow)] = {
    val df = mutable.HashMap.empty[String, Long]
    segs.flatMap { s =>
      df(s.term) = df.getOrElse(s.term, 0L) + s.count
      val first = s.firstDocId / rangeLen
      val last = s.lastDocId / rangeLen
      if (first == last) Iterator.single((first.toInt, SegmentRow(s)))
      else (first to last).iterator.flatMap { w =>
        PostingCodec.sliceForWindow(s, w * rangeLen, (w + 1) * rangeLen)
          .map(slice => (w.toInt, SegmentRow(slice)))
      }
    } ++ { // by-name: runs once the segments are exhausted
      if (df.isEmpty) Iterator.empty
      else {
        val row = DfRow(df.toMap)
        Iterator.tabulate(windows)(w => (w, row))
      }
    }
  }

  /** Map side, filter docIds: one row per window the partition's ids fall
    * in, holding those ids.
    */
  private def idRows(ids: Iterator[Long], rangeLen: Long,
      deny: Boolean): Iterator[(Int, WindowRow)] = {
    val byWindow = mutable.HashMap.empty[Int, mutable.ArrayBuilder.ofLong]
    ids.foreach { id =>
      byWindow.getOrElseUpdate((id / rangeLen).toInt,
        new mutable.ArrayBuilder.ofLong) += id
    }
    byWindow.iterator.map { case (w, b) => (w, IdsRow(b.result(), deny)) }
  }

  /** Reduce side: one partition's rows → the input of each window holding
    * segments, with window-local allow/deny bitmaps (null = absent). A
    * window with an allow set but no allow ids in range has no input.
    * Rows group by their window key: a docId past the stats' high-water
    * mark (pre-r5 stats) hashes onto a lower partition. Each partition gets
    * one df row per map partition, so all of them sum to the global df.
    */
  private def windowInputs(rows: Iterator[(Int, WindowRow)], rangeLen: Long,
      hasAllow: Boolean): Iterator[WindowInput] = {
    val segs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[PostingSegment]]
    val allow = mutable.HashMap.empty[Int, java.util.BitSet]
    val deny = mutable.HashMap.empty[Int, java.util.BitSet]
    val df = mutable.HashMap.empty[String, Long]
    rows.foreach {
      case (w, SegmentRow(s)) =>
        segs.getOrElseUpdate(w, mutable.ArrayBuffer.empty) += s
      case (_, DfRow(m)) =>
        m.foreach { case (t, c) => df(t) = df.getOrElse(t, 0L) + c }
      case (w, IdsRow(ids, isDeny)) =>
        val bs = (if (isDeny) deny else allow)
          .getOrElseUpdate(w, new java.util.BitSet())
        val lo = w * rangeLen
        ids.foreach(id => bs.set((id - lo).toInt))
    }
    val dfByTerm = df.toMap
    segs.iterator.collect { case (w, ss) if !hasAllow || allow.contains(w) =>
      val lo = w * rangeLen
      val a = allow.getOrElse(w, null)
      val d = deny.getOrElse(w, null)
      val test: Option[Long => Boolean] =
        if (a == null && d == null) None
        else Some { id =>
          val off = (id - lo).toInt
          (a == null || a.get(off)) && (d == null || !d.get(off))
        }
      WindowInput(lo, ss.toSeq, dfByTerm, test)
    }
  }

  /** Stored docs-table columns `searchSorted` may order by (Solr sort=). */
  val SortableFields: Set[String] =
    Set("url", "warc_ts", "lang", "doclen", "titleLen")

  /** Numeric stored columns `statsField` may aggregate (Solr stats.field). */
  val NumericFields: Set[String] = Set("doclen", "titleLen")

  /** Column name for a stats percentile point: p50, p99, p99_9 (dots are
    * not legal in unquoted column names).
    */
  def percentileColName(p: Double): String = {
    val s = if (p == p.floor) p.toLong.toString
            else p.toString.replace('.', '_')
    s"p$s"
  }

  /** String stored columns `searchGrouped` may group by. Restricted to
    * string fields: the SeqOracle twin orders group VALUES as strings, so
    * admitting numeric/timestamp fields would make the spec side sort
    * "10" < "9" while the engine sorts 9 < 10 (review r5).
    */
  val GroupableFields: Set[String] = Set("lang", "url")

  /** One term's contribution to one doc's score ([[QueryEngine.explain]] —
    * the Solr debugQuery analog). `score` = BM25(tf, dl, avgdl, idf·boost);
    * entries are term-ascending and their left-fold sum is bit-identical to
    * the doc's reported search score.
    */
  final case class ExplainEntry(term: String, tf: Long, dl: Long, df: Long,
      idf: Double, boost: Double, score: Double)
}

/** Delete-by-id as tombstones (reference: solrc.delete(id=…) at
  * /root/reference/src/searchindex.py:83–92): anti-joined at query time until
  * compaction rewrites the affected segments.
  */
object Deletes {
  def delete(spark: SparkSession, indexDir: String, docIds: Seq[Long]): Unit = {
    import spark.implicits._
    if (docIds.nonEmpty)
      // coalesce(1): a driver-side id list parallelizes across default
      // parallelism and would write one TINY part file per core per call
      // (32 files for a 1k-id delete) — every query's tombstone scan
      // unions this directory, so each delete call should land ONE file
      // (bounded: deleteAllByQuery flushes at most once per flushEvery ids)
      docIds.toDS().coalesce(1).toDF("docId")
        .write.mode(SaveMode.Append)
        .parquet(IndexLayout.tombstonesDir(indexDir))
  }
}
