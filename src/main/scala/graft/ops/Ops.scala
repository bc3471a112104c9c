package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.BM25

/** Driver-verified operators (SparkEntry.queries): the SQL-expressible
  * analogs of SURVEY.md §2 over the driver's parquet tables, plus the
  * training-data-pipeline ops (dedup, similarity, text analysis) that a
  * 100 TB corpus engine needs. Each has a DuckDB oracle in
  * SparkEntry.oracleSql unless noted rows-only.
  *
  * All plans are narrow-scan friendly: filters/projections sit directly on
  * the parquet read so Catalyst pushes them down, and every aggregation is a
  * partial+final hash agg. Joins against small derived sets are broadcast.
  */
object Ops {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scan spread for per-doc heavy passes (tokenize, shingle, hash): the
    * driver tables are single-file single-row-group parquet, so such a scan
    * is ONE task and a fused tokenize runs serially no matter how many
    * cores the session has. The optimization guide's unsplittable-input
    * rule (§2.5: "one huge unsplittable file … repartition immediately
    * after the read") applies: a scan with fewer partitions than
    * `defaultParallelism` is spread round-robin across `defaultParallelism`
    * before the per-doc compute. A scan already that wide (at 100 TB the
    * corpus arrives as many splittable files) is left as it is — there the
    * repartition would be a pure corpus-scale shuffle tax. The partition
    * count comes from the planned scan; building its RDD runs no job.
    */
  private[graft] def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val n = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= n) df else df.repartition(n)
  }

  /** The engine-wide tokenizer expression (mirrors Analysis.tokenize and the
    * DuckDB `string_split_regex(lower(text), '[^a-z0-9]+')`).
    */
  private def toksCol(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), x => length(x) > 0)

  // ------------------------------------------------------ index analogs

  /** A5: per-(doc, term) term frequency — the map-side of posting build.
    * r6: computed per ROW with higher-order functions (distinct terms ×
    * in-array occurrence count) instead of explode → corpus-scale
    * (doc, term) hash-agg exchange — tf is a per-document property, so the
    * old shuffle moved every token occurrence only to count it against a
    * key that never crosses documents (guide §2.4: remove shuffles
    * outright). Zero Exchange; the tf LONG cast preserves the old
    * count()-produced schema.
    */
  def tokenizeTf(spark: SparkSession, dir: String): DataFrame =
    spread(spark, t(spark, dir, "documents").select("doc_id", "text"))
      .select(col("doc_id"), toksCol(col("text")).as("t"))
      .select(col("doc_id"), explode(transform(array_distinct(col("t")),
        x => struct(x.as("term"),
          size(filter(col("t"), y => y === x)).cast("long").as("tf"))))
        .as("p"))
      .select(col("doc_id"), col("p.term").as("term"), col("p.tf").as("tf"))

  /** A6: document/collection frequency per term. */
  def dfCf(spark: SparkSession, dir: String): DataFrame =
    tokenizeTf(spark, dir).groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))

  /** A5: doc length in tokens. r6: size(tokens) per row (doclen is a
    * per-document property — no explode, no exchange); docs with zero
    * tokens are absent, exactly as the old explode-based groupBy dropped
    * them.
    */
  def doclen(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), size(toksCol(col("text"))).cast("long").as("doclen"))
      .filter(col("doclen") > 0)

  /** A6: corpus stats (N, avgdl, total terms). */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    doclen(spark, dir).agg(count(lit(1)).as("n_docs"),
      avg("doclen").as("avgdl"), sum("doclen").as("total_terms"))

  /** All (doc_id, score) BM25 matches for a term set, as a pure Catalyst
    * plan. k1=1.2, b=0.75, idf = ln(1+(N-df+0.5)/(df+0.5)).
    */
  /** @param fqTerms Solr fq analog: each term constrains the match set
    *   without contributing score (the q-vs-fq split) — a per-row
    *   array_contains predicate over the same matched-occurrence column
    *   (r6); several terms intersect, like repeated fq= params.
    */
  private def bm25Scored(spark: SparkSession, dir: String,
      queryTerms: Seq[String],
      boosts: Map[String, Double] = Map.empty,
      fqTerms: Seq[String] = Nil): DataFrame = {
    // r6: the old plan exploded every token into a corpus-scale
    // (doc, term, tf) shuffle + checkpoint and re-aggregated it three
    // times (5 Exchanges; ~11 AQE query-stage jobs measured). Everything
    // the scorer needs survives ONE narrow per-doc pass — doclen =
    // size(tokens) plus the query/fq-term occurrences kept by an in-row
    // filter (guide §2.3: project/filter before any exchange) — and the
    // per-term df / corpus stats are O(query terms) SCALARS, which is
    // exactly what the real engine (like Lucene/Solr) reads from segment
    // metadata at query-plan time: collect them to the driver and fold
    // idf×boost into a per-term weight-map literal. Scoring is then a
    // single in-row fold over each doc's matched terms — zero joins, zero
    // scoring exchanges — and fq degenerates to a per-row array_contains
    // predicate. Note this SQL-analog op IS a full-corpus scorer by
    // definition — the real engine path answers from the prebuilt index;
    // at 100 TB you run THAT.
    val allTerms = (queryTerms ++ fqTerms).distinct
    val perDoc = spread(spark,
        t(spark, dir, "documents").select("doc_id", "text"))
      .select(col("doc_id"), toksCol(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("doclen"),
        filter(col("toks"), x => x.isin(allTerms: _*)).as("qtoks"))
      .filter(col("doclen") > 0)
      .localCheckpoint()
    // ONE aggregation job over the narrow checkpoint yields n_docs +
    // avgdl + every query term's df (count of docs whose matched-token
    // array contains it) — no explode, no groupBy exchange, no joins.
    val dfAggs = queryTerms.map(tm =>
      count(when(array_contains(col("qtoks"), tm), lit(1))).as(s"df_$tm"))
    val row = perDoc
      .agg(count(lit(1)).as("n_docs"), (avg("doclen").as("avgdl") +: dfAggs): _*)
      .head()
    val (nDocs, avgdl) = (row.getLong(0), row.getDouble(1))
    // per-term weight = idf × boost — the same IEEE double ops, in the
    // same association order, the old in-plan expression executed
    // (ln(1+(N-df+0.5)/(df+0.5)) * boost; QueryParser.scala boost Scaladoc)
    val weights: Map[String, Double] = queryTerms.zipWithIndex.flatMap {
      case (tm, i) =>
        val df = row.getLong(2 + i)
        if (df == 0L) None
        else Some(tm -> BM25.idf(nDocs, df) * boosts.getOrElse(tm, 1.0))
    }.toMap
    val matched = fqTerms.foldLeft(
        perDoc
          .withColumn("qd", filter(col("qtoks"),
            x => x.isin(queryTerms: _*)))
          .filter(size(col("qd")) > 0)) { (d, tm) =>
      d.filter(array_contains(col("qtoks"), tm))
    }
    matched.select(col("doc_id"),
      bm25RowScore(col("qd"), weights, avgdl).as("score"))
  }

  /** The in-row BM25 fold (r6): per distinct matched term, weight ×
    * tf / (tf + k1·(1−b+b·dl/avgdl)), summed left-to-right in the doc's
    * term-first-occurrence order and rounded like every Ops scorer — ONE
    * definition for every Ops scorer, so a k1/b/rounding change cannot
    * desync them. Weight ≡ idf×boost, multiplied in the idf position (the
    * engine's association order, bit-identity depends on it; ×1.0 is
    * IEEE-exact, so unboosted ≡ no factor); the doubles and association
    * order reproduce the pre-r6 in-plan contribution expression exactly.
    * `doclen` must be a LONG column on the input row.
    */
  private def bm25RowScore(qd: Column, weights: Map[String, Double],
      avgdl: Double): Column =
    round(unroundedBm25Fold(qd, weights, avgdl), 4)

  /** The fold itself, unrounded — [[bm25QfTopK]] adds its second field's
    * contribution before the one final rounding.
    */
  private def unroundedBm25Fold(qd: Column, weights: Map[String, Double],
      avgdl: Double): Column = {
    val wLit = typedLit(if (weights.isEmpty) Map("" -> 0.0) else weights)
    aggregate(
      transform(array_distinct(qd), tm => {
        val tf = size(filter(qd, y => y === tm)).cast("double")
        element_at(wLit, tm) * tf /
          (tf + lit(BM25.K1) * (lit(1.0) - BM25.B +
            lit(BM25.B) * col("doclen").cast("double") / lit(avgdl)))
      }),
      lit(0.0), (acc, x) => acc + x)
  }

  /** Q4/A8: BM25 top-10 for a fixed two-term query (SURVEY.md §7 step 3 —
    * the "minimum end-to-end slice").
    */
  def bm25TopK(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("spark", "window"), k: Int = 10): DataFrame =
    bm25Scored(spark, dir, queryTerms)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)

  /** Q3 boosts (r5): the SQL-analog twin of `spark^2 window^0.5` — BM25
    * top-10 with per-term boosts folded into idf, oracled in DuckDB so the
    * boost scoring rule itself is hash-checked (engine-side boosts are
    * covered by rank-identity fixtures, EngineSpec/WandSpec).
    */
  def bm25Boosted(spark: SparkSession, dir: String): DataFrame =
    bm25Scored(spark, dir, Seq("spark", "window"),
      Map("spark" -> 2.0, "window" -> 0.5))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(10)

  /** Q2 edismax qf (r5): the SQL-analog twin of `q=spark src3&qf=text^1
    * src^3` — every query token searched across TWO fields (text, plus
    * `source` standing in as the second indexed field of the driver
    * table), each field's BM25 contribution weighted by its qf weight and
    * SUMMED (tie=1 — the engine's MultiLit rule, QueryParser.scala). Norms
    * are FIELD-LOCAL (per-field dl/avgdl, per-(field,term) df) while idf's
    * N is the one corpus doc count — exactly the engine's text/title
    * split. Engine twin: [[graft.query.QueryParser.parse]]'s qf param;
    * rank identity there is EngineSpec's qf goldens, the scoring RULE is
    * hash-checked here in DuckDB.
    */
  def bm25QfTopK(spark: SparkSession, dir: String): DataFrame = {
    // r6: same driver-side metadata collection as bm25Scored, per FIELD —
    // the old plan unioned a tagged per-field (doc, term, tf) table,
    // checkpointed it corpus-scale and ran three shuffle aggregations plus
    // four joins. Per-field norms (avgdl), per-(field, term) df and the
    // one corpus N are O(1)/O(terms) scalars; the src field's dl and tf
    // are both 1, so each src-term contribution is one driver-computed
    // constant, and scoring is a single in-row fold. All double ops keep
    // the old expression's association (idf × w) × tf / denom.
    val qTerms = Seq("spark", "src3")
    val perDoc = spread(spark,
        t(spark, dir, "documents").select("doc_id", "text", "source"))
      .select(col("doc_id"), toksCol(col("text")).as("toks"),
        lower(col("source")).as("srcTerm"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("doclen"),
        filter(col("toks"), x => x.isin(qTerms: _*)).as("qtoks"),
        col("srcTerm"))
      .localCheckpoint()
    val aggs = Seq(
      count(when(col("doclen") > 0, lit(1))).as("n_text"),
      sum(when(col("doclen") > 0, col("doclen"))).as("sum_dl_text")) ++
      qTerms.flatMap(tm => Seq(
        count(when(array_contains(col("qtoks"), tm), lit(1)))
          .as(s"df_text_$tm"),
        count(when(col("srcTerm") === tm, lit(1))).as(s"df_src_$tm")))
    val row = perDoc.agg(count(lit(1)).as("n_docs"), aggs: _*).head()
    val nDocs = row.getLong(0)
    // Average(LongType) = exact-integer double sum / double count — the
    // same division the old in-plan avg(doclen) evaluated
    val avgdlText = row.getLong(2).toDouble / row.getLong(1).toDouble
    def idf(df: Long): Double = BM25.idf(nDocs, df)
    val wText: Map[String, Double] = qTerms.zipWithIndex.flatMap {
      case (tm, i) =>
        val df = row.getLong(3 + 2 * i)
        if (df == 0L) None else Some(tm -> idf(df) * 1.0)
    }.toMap
    // src field: tf = 1, dl = 1, avgdl = sum(1)/count = 1.0 exactly — the
    // whole contribution is a per-term constant (idf × 3.0) × 1 / denom(1)
    val srcContrib: Map[String, Double] = qTerms.zipWithIndex.flatMap {
      case (tm, i) =>
        val df = row.getLong(4 + 2 * i)
        if (df == 0L) None
        else Some(tm -> idf(df) * 3.0 * 1.0 /
          (1.0 + BM25.K1 * (1.0 - BM25.B + BM25.B * 1.0 / 1.0)))
    }.toMap
    val srcScore = srcContrib.foldLeft(lit(0.0)) { case (e, (tm, c)) =>
      when(col("srcTerm") === tm, lit(c)).otherwise(e)
    }
    perDoc
      .withColumn("qd", filter(col("qtoks"), x => x.isin(wText.keys.toSeq: _*)))
      .filter(size(col("qd")) > 0 ||
        col("srcTerm").isin(srcContrib.keys.toSeq: _*))
      .select(col("doc_id"),
        round(unroundedBm25Fold(col("qd"), wText, avgdlText) + srcScore, 4)
          .as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(10)
  }

  /** Q1 fq (r5): the SQL-analog twin of `q=spark window` + `fq=data` —
    * BM25 top-10 over only the docs that also contain the fq term, scores
    * identical to the unconstrained query (Solr's q-vs-fq split: fq never
    * scores). Engine twin: [[graft.query.QueryEngine.search]]'s fq param.
    */
  def bm25FqTopK(spark: SparkSession, dir: String): DataFrame =
    bm25Scored(spark, dir, Seq("spark", "window"), fqTerms = Seq("data"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(10)

  /** Q1 q.op=AND (r5): the SQL-analog twin of `q=spark window&q.op=AND` —
    * only docs containing EVERY query term match; scoring is unchanged
    * (per-distinct-term BM25 sum). Modeled as the conjunction constraint
    * over the same scorer — exactly the parser's q.op=AND semantics
    * (adjacent items become MUST). Engine twin:
    * [[graft.query.QueryParser.parse]]'s defaultOp.
    */
  def bm25QopAndTopK(spark: SparkSession, dir: String): DataFrame =
    bm25Scored(spark, dir, Seq("spark", "window"),
      fqTerms = Seq("spark", "window"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(10)

  /** Solr facet.query analog (r5): per sub-query term, the count of docs
    * in the main query's match set that also contain it — all counts in
    * ONE job, zeros included, ordered by fquery. Engine twin:
    * [[graft.query.QueryEngine.facetQuery]].
    */
  def facetQueryCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r6: all overlap counts in ONE narrow pass — per doc the query/sub
    // terms it contains (in-row filter, no explode, no checkpoint, no
    // join), then a single aggregate of `base-match AND contains(sub)`
    // conditional counts. The old plan checkpointed the corpus (doc, term)
    // table and ran a distinct + union + join + groupBy chain for the same
    // three numbers (guide §2.4: remove shuffles outright).
    val subs = Seq("data", "year", "zzznosuchterm")
    val qTerms = Seq("spark", "window")
    val allTerms = (qTerms ++ subs).distinct
    val matched = t(spark, dir, "documents")
      .select(filter(toksCol(col("text")),
        x => x.isin(allTerms: _*)).as("q"))
      .filter(arrays_overlap(col("q"), array(qTerms.map(lit): _*)))
    val aggs = subs.map(s =>
      count(when(array_contains(col("q"), s), lit(1))).as(s"cnt_$s"))
    val row = matched.agg(aggs.head, aggs.tail: _*).head()
    subs.zipWithIndex.map { case (s, i) => (s, row.getLong(i)) }
      .toDF("fquery", "cnt")
      .orderBy("fquery")
  }

  /** Q3 fuzzy (r5): the SQL-analog twin of `spark~2` — expand the query
    * term against the distinct token vocabulary under full
    * Damerau-Levenshtein ≤ 2 ([[graft.query.Fuzzy]], the SAME function the
    * engine's dictionary expansion uses — lockstep by construction), then
    * BM25 top-10 over the expansion as a synonym group. Oracled in DuckDB
    * via its `damerau_levenshtein` (probed bit-compatible with Fuzzy on 20k
    * random pairs), so the expansion rule itself is hash-checked.
    *
    * The vocabulary collect is bounded by distinct-token count (not corpus
    * size) and further by the shared sort-and-cap; at 100 TB the real
    * engine path answers from the prebuilt dictionary instead.
    */
  /** Q3 wildcard (r5): the SQL-analog twin of `s?a*` — expand the glob
    * pattern against the distinct token vocabulary ([[graft.query.Glob]],
    * the SAME matcher the engine's dictionary expansion uses), then BM25
    * top-10 over the expansion as a synonym group. Oracled via DuckDB's
    * GLOB operator (semantics pinned in WildcardSpec), so the expansion
    * rule is hash-checked end to end.
    */
  /** Distinct vocabulary terms passing `pred`, sorted-and-capped IN PLAN
    * (orderBy + limit → TakeOrderedAndProject, the engine twin's shape —
    * VERDICT r5 #6) and collected only then: the driver never holds more
    * than MaxPrefixExpansion terms. Tokens are [a-z0-9]+ so Spark's UTF-8
    * binary sort order equals the old driver-side String sort.
    */
  private def vocabExpand(spark: SparkSession, dir: String)(
      pred: String => Boolean): Seq[String] = {
    import spark.implicits._
    t(spark, dir, "documents")
      .select(explode(array_distinct(toksCol(col("text")))).as("term"))
      .distinct()
      .as[String]
      .filter(pred)
      .orderBy("term")
      .limit(graft.query.QueryResolve.MaxPrefixExpansion)
      .collect().toSeq
  }

  def wildcardTopK(spark: SparkSession, dir: String): DataFrame = {
    val expanded = vocabExpand(spark, dir)(
      t => graft.query.Glob.matches(t, "s?a*"))
    bm25Scored(spark, dir, expanded)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(10)
  }

  /** Q3 term range (r5): the SQL-analog twin of `text:{spark TO sz]` —
    * expand the lexicographic term range against the distinct token
    * vocabulary (exclusive lo / inclusive hi, exercising the bracket
    * grammar), then BM25 top-10 over the expansion as a synonym group.
    * Oracled in DuckDB with the same plain string comparisons, so the
    * expansion rule (bounds, exclusivity, sort-and-cap) is hash-checked.
    */
  def termRangeTopK(spark: SparkSession, dir: String): DataFrame = {
    val expanded = vocabExpand(spark, dir)(t => t > "spark" && t <= "sz")
    bm25Scored(spark, dir, expanded)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(10)
  }

  def fuzzyTopK(spark: SparkSession, dir: String): DataFrame = {
    val expanded = vocabExpand(spark, dir)(
      t => graft.query.Fuzzy.within(t, "spark", 2))
    bm25Scored(spark, dir, expanded)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(10)
  }

  /** Solr sort= (r5): the SQL-analog twin of
    * [[graft.query.QueryEngine.searchSorted]] — docs matching a term,
    * ordered by a stored column instead of score (doc_id-ascending
    * tiebreak), top 20 — ending in the engine path's
    * TakeOrderedAndProject shape.
    */
  def sortedMatchTopk(spark: SparkSession, dir: String): DataFrame =
    // r6: the match set is a per-row containment predicate — one narrow
    // scan straight into TakeOrderedAndProject; the old explode → distinct
    // → self-join chain computed the same rows with two exchanges
    // (guide §2.4)
    t(spark, dir, "documents")
      .filter(array_contains(toksCol(col("text")), "spark"))
      .select("doc_id", "n_chars")
      .orderBy(desc("n_chars"), asc("doc_id"))
      .limit(20)

  /** Solr /export analog (r5): the FULL match set of a term — no limit, no
    * score — with stored fields, globally ordered by a stored field with
    * doc_id tiebreak. The engine twin is `QueryEngine.exportMatches`
    * (range-partitioned sort → bulk parquet egress); this is the same
    * relational shape over the driver tables, so the absence of a top-k
    * cut is what the oracle checks.
    */
  def exportSorted(spark: SparkSession, dir: String): DataFrame =
    // r6: per-row containment match (see sortedMatchTopk); the global
    // range-partitioned sort — the /export shape under test — remains
    t(spark, dir, "documents")
      .filter(array_contains(toksCol(col("text")), "data"))
      .select("doc_id", "source", "n_chars")
      .orderBy(asc("source"), asc("doc_id"))

  /** Solr facet.prefix + facet.sort=index (r5): facet values of the match
    * set restricted to a string prefix, counted, then ordered LEXICALLY —
    * the limit cuts in index order, not count order
    * (`QueryEngine.facet(prefix, sortIndex)` twin over the driver tables).
    */
  def facetPrefixIndex(spark: SparkSession, dir: String): DataFrame =
    // r6: per-row containment match (see sortedMatchTopk) — scan →
    // facet-cardinality agg, no join
    t(spark, dir, "documents")
      .filter(array_contains(toksCol(col("text")), "data") &&
        col("lang").startsWith("e"))
      .groupBy("lang").agg(count(lit(1)).as("cnt"))
      .orderBy(asc("lang"))
      .limit(10)

  /** Solr stats percentiles (r5): exact interpolated percentile points of
    * a numeric stored field over the match set (`QueryEngine.statsField`'s
    * percentiles param; rounded to 4 decimals for cross-engine float
    * parity, like the BM25 score oracles).
    */
  def statsPercentiles(spark: SparkSession, dir: String): DataFrame =
    // r6: per-row containment match (see sortedMatchTopk) — scan → one agg
    t(spark, dir, "documents")
      .filter(array_contains(toksCol(col("text")), "data"))
      .agg(round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
        round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
        round(expr("percentile(n_chars, 0.99)"), 4).as("p99"))

  /** Solr group.ngroups (r5): the distinct group-value count of the match
    * set as ONE aggregate — `QueryEngine.countGroups` twin; partial
    * map-side aggregation means one narrow shuffle at any corpus size.
    */
  def ngroupsMatch(spark: SparkSession, dir: String): DataFrame =
    // r6: per-row containment match (see sortedMatchTopk) — scan → one agg
    t(spark, dir, "documents")
      .filter(array_contains(toksCol(col("text")), "data"))
      .agg(countDistinct(col("source")).as("ngroups"))

  /** Q2: fielded stored-field filter on a scored query — the driver-table
    * analog of the engine's `url:<v> terms` (filter gates candidates; corpus
    * stats stay corpus-wide, matching Solr fq semantics).
    */
  def urlFilterTopk(spark: SparkSession, dir: String): DataFrame =
    bm25Scored(spark, dir, Seq("spark", "window"))
      .join(t(spark, dir, "documents").filter(col("source") === "src3")
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(10)

  /** Q3: stored-field range `[a TO b]` on a scored query — the driver-table
    * analog of the engine's `warc_ts:[lo TO hi] terms` (inclusive bounds).
    */
  def rangeFilterTopk(spark: SparkSession, dir: String): DataFrame =
    bm25Scored(spark, dir, Seq("spark", "window"))
      .join(t(spark, dir, "documents")
        .filter(col("n_chars") >= 100 && col("n_chars") <= 300)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(10)

  /** Q3: positional phrase as a token-adjacency predicate — SQL-expressible
    * twin of the engine's positions-based "data group" phrase (the regex is
    * exactly "token, one non-token run, token", i.e. adjacency under the
    * engine tokenizer).
    */
  def phraseMatch(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      // boundary-anchored: without (^|[^a-z0-9])...([^a-z0-9]|$) the regex
      // substring-matches inside larger tokens ('metadata groups'), which
      // the engine's positions-based phrase never does
      .filter(lower(col("text"))
        .rlike("(^|[^a-z0-9])data[^a-z0-9]+group([^a-z0-9]|$)"))
      .select("doc_id")

  /** Q3 phrase slop: `"data group"~2` under Lucene edit-distance slop (r5 —
    * the engine's [[graft.query.Wand.phraseMatch]] semantics) as a regex
    * predicate over the engine tokenizer's token stream. For a bigram at
    * slop 2 the match set is exactly: in-order with ≤ 2 intervening tokens
    * (adjusted span = gap − 1 ≤ 2), OR transposed ADJACENT ("group data",
    * adjusted span = gap + 1 ≤ 2 forces gap = 1). Superset of
    * [[phraseMatch]].
    */
  def phraseSlop(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(lower(col("text")).rlike(
        "(^|[^a-z0-9])data([^a-z0-9]+[a-z0-9]+){0,2}[^a-z0-9]+group([^a-z0-9]|$)") ||
        lower(col("text")).rlike(
          "(^|[^a-z0-9])group[^a-z0-9]+data([^a-z0-9]|$)"))
      .select("doc_id")

  /** A8/Q5: top-k with deterministic tiebreak (TakeOrderedAndProject). */
  def topkOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
      .limit(20)

  // ------------------------------------- extraction / validation analogs

  /** P1: id sanitize — `[:/.]` → `-` (indexdata.py:462–475). */
  def idSanitize(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("source"), translate(col("source"), ":/.", "---").as("id"))
      .distinct()

  /** F1: required-element check — present-but-null → 'Unknown'
    * (indexdata.py:174–203).
    */
  def requiredCheck(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").select(col("event_id"),
      coalesce(col("props"), lit("Unknown")).as("props_checked"),
      col("props").isNotNull.as("had_value"))

  /** P9/A1: envelope aggregate — min/max bounds per group
    * (indexdata.py:629–633).
    */
  def envelopeAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").groupBy("l_returnflag").agg(
      min("l_quantity").as("w"), max("l_quantity").as("e"),
      min("l_extendedprice").as("s"), max("l_extendedprice").as("n"))

  /** P10/F7: bounds validation → Active/Inactive gate + metric
    * (indexdata.py:665–699, :1255–1257).
    */
  def validateRange(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(when(col("l_discount") < 0 || col("l_discount") > 0.08 ||
          col("l_tax") < 0 || col("l_tax") > 0.06, lit("Inactive"))
        .otherwise(lit("Active")).as("status"))
      .groupBy("status").agg(count(lit(1)).as("cnt"))

  /** J2: parent∈batch left-semi join (indexdata.py:1741–1742). */
  def parentSemi(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").join(
      t(spark, dir, "lineitem").select(col("l_orderkey").as("o_orderkey")),
      Seq("o_orderkey"), "left_semi")
      .select("o_orderkey")

  /** J3: parent flag update via outer join (indexdata.py:1750–1766). */
  def parentFlag(spark: SparkSession, dir: String): DataFrame = {
    val kids = t(spark, dir, "lineitem")
      .select(col("l_orderkey")).distinct()
    t(spark, dir, "orders")
      .join(kids, col("o_orderkey") === col("l_orderkey"), "left_outer")
      .select(col("o_orderkey"), col("l_orderkey").isNotNull.as("is_parent"))
  }

  /** J5/K3: tombstone anti-join — hide deleted parents' lines
    * (searchindex.py:88 + delete-by-id).
    */
  def tombstoneAnti(spark: SparkSession, dir: String): DataFrame = {
    val deleted = t(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("l_orderkey"))
    t(spark, dir, "lineitem")
      .join(deleted, Seq("l_orderkey"), "left_anti")
      .select("l_orderkey", "l_linenumber")
  }

  /** P8: date-range interval overlap predicate — replaces Solr
    * DateRangeField `[start TO end]` (indexdata.py:589–607).
    */
  def daterangeOverlap(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1995-03-01 00:00:00")) &&
        col("o_orderdate") + expr("INTERVAL 30 DAYS") >=
          lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")))
      .select("o_orderkey")

  /** §2.10 (r4): batch twin of the streaming tumbling-window event rollup
    * ([[graft.streaming.StreamIngest.windowedEventAgg]]) — identical
    * aggregation over the static events table, DuckDB-oracled. Streaming
    * and batch share one aggregation definition (unified-engine contract);
    * StreamingSpec asserts the stream output equals this on the same rows.
    */
  def eventWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** §2.11: dense-rank window (docId assignment analog) — top-N-then-rank:
    * TakeOrderedAndProject bounds the global sort at 50 rows, and the
    * row_number window then runs over those 50 rows only. The naive
    * `row_number over (order by ...)` would funnel the WHOLE table through
    * a single partition (the round-1 plan, flagged weak at 100x).
    */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    t(spark, dir, "documents")
      .select("doc_id", "n_chars")
      .orderBy(desc("n_chars"), asc("doc_id"))
      .limit(50)
      .withColumn("rn", row_number().over(
        Window.orderBy(desc("n_chars"), asc("doc_id"))))
      .select("doc_id", "n_chars", "rn")
  }

  /** F4/A2: max-datetime normalize (indexdata.py:325–355). */
  def lastupdateMax(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").groupBy("user_id")
      .agg(max("ts").as("max_ts"))

  // ---------------------------------------------- training-data pipeline

  /** Exact dedup: content-hash groupBy, keep min id. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))

  /** Document fingerprint: md5 of whitespace-normalized lowercase text. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"),
      md5(regexp_replace(lower(col("text")), "\\s+", " ").cast("binary"))
        .as("fp"))

  /** Token counting: whitespace tokens + alnum-regex tokens. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"),
      size(filter(split(col("text"), "\\s+"), x => length(x) > 0)).as("n_ws"),
      size(toksCol(col("text"))).as("n_tok"))

  private val StopEn = Seq("the", "a", "of", "and", "is")

  /** Quality scoring: token count, stopword ratio, non-alnum char ratio. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = array(StopEn.map(lit): _*)
    t(spark, dir, "documents")
      .withColumn("t", toksCol(col("text")))
      .withColumn("words", size(col("t")))
      .select(col("doc_id"), col("words"),
        when(col("words") === 0, 0.0).otherwise(round(
          size(filter(col("t"), x => array_contains(stopArr, x)))
            .cast("double") / col("words"), 4)).as("stop_ratio"),
        round((length(col("text")) -
          length(regexp_replace(col("text"), "[a-z0-9 ]", "")))
          .cast("double") / length(col("text")), 4).as("punct_ratio"))
  }

  /** Gopher-style repetition signals (r5): per doc, the duplicate-trigram
    * fraction (1 − distinct/total 3-grams) and the top-term mass
    * (max tf / doclen) — the two repetition filters a web-scale training
    * pipeline applies alongside [[qualityScore]] before dedup (high
    * dup-trigram or one-token-dominated docs are boilerplate/spam). Docs
    * with < 3 tokens are skipped (no trigram defined). Scale shape: the
    * trigram fraction is a NARROW per-row computation (higher-order array
    * functions, whole-stage codegen, zero shuffle); the top-term mass
    * reuses the (doc,term) hash agg with map-side combine; the final join
    * is doc_id-co-partitioned agg output. No driver state.
    */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame = {
    // r6: BOTH signals are per-document properties — the top-term mass is
    // max in-array occurrence count / doclen, computed per row like the
    // trigram fraction. The old plan exploded every token into a
    // (doc, term) hash-agg shuffle, re-aggregated per doc and joined back
    // to the trigram branch; now the whole op is one narrow zero-shuffle
    // pass (guide §2.4). max(tf)/sum(tf): sum(tf) = doclen = size(a), and
    // integer-column division yields the same double as before.
    t(spark, dir, "documents")
      .select(col("doc_id"), toksCol(col("text")).as("a"))
      .filter(size(col("a")) >= 3)
      .select(col("doc_id"),
        transform(sequence(lit(1), size(col("a")) - 2),
          i => concat_ws(" ", element_at(col("a"), i),
            element_at(col("a"), i + 1), element_at(col("a"), i + 2)))
          .as("tris"),
        array_max(transform(array_distinct(col("a")),
          x => size(filter(col("a"), y => y === x)))).as("max_tf"),
        size(col("a")).as("dl"))
      .select(col("doc_id"),
        round(lit(1.0) - size(array_distinct(col("tris"))).cast("double") /
          size(col("tris")), 4).as("dup_trigram_frac"),
        round(col("max_tf").cast("long").cast("double") /
          col("dl").cast("long"), 4).as("top_tf_frac"))
  }

  /** Language ID: per-language stopword-hit counts, argmax with fixed
    * tie order en > de > es > fr.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val lists = Seq(
      "en" -> Seq("the", "a", "of", "and", "is"),
      "de" -> Seq("der", "die", "das", "und", "ist"),
      "es" -> Seq("el", "la", "de", "y", "es"),
      "fr" -> Seq("le", "les", "de", "et", "est"))
    val base = t(spark, dir, "documents")
      .withColumn("t", toksCol(col("text")))
    val withHits = lists.foldLeft(base) { case (d, (l, ws)) =>
      val arr = array(ws.map(lit): _*)
      d.withColumn(s"hits_$l",
        size(filter(col("t"), x => array_contains(arr, x))))
    }
    withHits.select(col("doc_id"),
      when(col("hits_en") >= col("hits_de") && col("hits_en") >= col("hits_es")
          && col("hits_en") >= col("hits_fr"), "en")
        .when(col("hits_de") >= col("hits_es") && col("hits_de") >= col("hits_fr"), "de")
        .when(col("hits_es") >= col("hits_fr"), "es")
        .otherwise("fr").as("predicted"))
  }

  /** Word 3-gram shingle SET per doc (ordered tokens → joined triples).
    * Dedup happens per row with array_distinct BEFORE the explode — set
    * semantics are per-document, so a global `.distinct()` (a full shuffle
    * of every shingle row) buys nothing it doesn't.
    */
  private def shingles(spark: SparkSession, dir: String): DataFrame =
    spread(spark, t(spark, dir, "documents").select("doc_id", "text"))
      .withColumn("t", toksCol(col("text")))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(1), size(col("t")) - 2),
        i => concat_ws(" ", element_at(col("t"), i),
          element_at(col("t"), i + 1), element_at(col("t"), i + 2)))))
        .as("s"))

  /** Shingles with document frequency above this are dropped before pair
    * generation AND from the per-doc set sizes (i.e. Jaccard is computed
    * over the capped shingle sets, symmetrically — the DuckDB oracle applies
    * the identical cap). Boilerplate shingles shared by millions of docs
    * contribute candidate-pair blowup, not discrimination; capping them is
    * what keeps the self-join's per-key fan-out bounded at corpus scale.
    */
  val HotShingleDf = 1000L

  /** Near-dup detection: 3-gram shingle Jaccard over candidate pairs that
    * share at least one (non-boilerplate) shingle. Scale shape: hot-shingle
    * cap bounds the self-join fan-out per key; the per-doc size table joins
    * by shuffle (it is O(N docs) — round 1 broadcast it, which ships the
    * whole table to every executor). For truly web-scale corpora the pair
    * generation is LSH buckets instead — see [[dedupLshVerified]].
    */
  def dedupNgram(spark: SparkSession, dir: String): DataFrame = {
    // checkpoint the shingle set: it feeds the hot-cap, both self-join
    // sides and the size table — without it the explode+distinct pipeline
    // re-ran ~4× (the direct cause of r2's 46% q_dedup_ngram regression).
    // At true corpus scale one re-derivation beats caching (CLAUDE.md rule
    // 1) — but at that scale the exact-ngram op is not the path at all;
    // dedupLshVerified is.
    val sh0 = shingles(spark, dir).localCheckpoint()
    val hot = sh0.groupBy("s").agg(count(lit(1)).as("sdf"))
      .filter(col("sdf") > HotShingleDf).select("s")
    // broadcast anti-join against the tiny hot set instead of a second
    // checkpoint (r4): the capped stream is then a NARROW re-read of the
    // sh0 checkpoint wherever it appears — one materialization barrier
    // fewer, no shuffle re-run (hot has ≤ totalShingles/HotShingleDf rows
    // by construction). r6 re-measured a second checkpoint here
    // (alternating A/B): statistically indistinguishable locally, and at
    // scale a corpus-class materialization loses to the cheap anti-join
    // recompute — kept as is.
    val sh = sh0.join(broadcast(hot), Seq("s"), "left_anti")
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // pair generation stays the sh ⋈ sh self-join deliberately (r6): a
    // grouped collect_list + combination-explode variant was measured
    // (guide §2.4) — it won ~15% wall in isolation but burned 2–4× the
    // CPU under the harness's interleaved-plan methodology
    // (ObjectHashAggregate + interpreted array lambdas vs always-hot join
    // codegen) and slowed every op sharing the session. The SHUFFLE_HASH
    // hint (guide §3.1) picks the strategy deliberately: the planner's
    // size-based choice was a BROADCAST of the capped shingle table
    // (single-threaded driver collect + hash build of every shingle
    // string — measured A/B/A/B: SHJ 1.39–1.54 s / 8.8–9.5 cpu-s vs
    // 1.56–1.73 s / 10.0–12.3 cpu-s), and at scale it keeps the join off
    // SMJ's per-row string sorts. SHJ's build side is per-partition and
    // unspillable, which is safe HERE by the op's documented scope: exact
    // ngram dedup is the small-corpus path (web scale goes through
    // dedupLshVerified), the hot-shingle cap bounds per-key fan-out, and
    // shuffle width is parameterised, never a local constant. A
    // hash-prefixed SMJ key ((xxhash64(s), s) — longs sort first) was
    // also measured and rejected: 2.05 s / 12.4 cpu-s, the wider shuffle
    // cost more than the string sort it saved.
    val a = sh.select(col("doc_id").as("id_a"), col("s"))
    val b = sh.select(col("doc_id").as("id_b"), col("s"))
    val pairs = a.join(b.hint("shuffle_hash"), Seq("s")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(sz.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sz.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("jac", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= 0.05)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jaccard"))
  }

  /** The 100 TB near-dup path: pair generation via MinHash/LSH band buckets
    * (no shingle self-join at all), then exact Jaccard verification of ONLY
    * the candidate pairs — shingle sets join against the candidate list
    * first, so the verify stage is O(candidates x shingles), never O(N^2).
    * The candidate stage is rows-only (the MinHash permutation isn't
    * portable to DuckDB; OpsSpec checks recall against exact dedupNgram);
    * the VERIFY stage is hash-oracled via a dynamic fixture SQL that embeds
    * the candidate pair list and recomputes exact Jaccard + threshold
    * (SparkEntry.oracleSqlDynamic, r5).
    */
  def dedupLshVerified(spark: SparkSession, dir: String): DataFrame = {
    val cand = minhashLsh(spark, dir) // (id_a, id_b), distinct
    val sh = shingles(spark, dir).localCheckpoint() // reused 3× below
    val aSide = cand.join(
      sh.select(col("doc_id").as("id_a"), col("s")), Seq("id_a"))
    val inter = aSide.join(
      sh.select(col("doc_id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    inter
      .join(sz.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sz.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("jac", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= 0.5)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jaccard"))
  }

  /** MinHash band-bucket rows (doc_id, band, h) — the signature stage of
    * [[minhashLsh]], exposed on its own (r5): the MinHash permutations
    * themselves aren't portable to DuckDB (wrapping 64-bit mixing), but
    * given these rows as a fixture the entire downstream candidate logic —
    * bucket cap, band equi-join, pair distinct — is plain SQL, which is how
    * the driver oracle checks it (SparkEntry.oracleSqlDynamic embeds this
    * table as a VALUES fixture). 16 permutations × 4 bands of 4.
    */
  def minhashBanded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nPerm = 16
    val bandSize = 4
    val docs = spread(spark,
        t(spark, dir, "documents").select("doc_id", "text"))
      .as[(Long, String)]
    // <3-token docs have NO 3-gram shingles: the verify stage
    // ([[shingles]] filters size >= 3) could never confirm a candidate
    // involving one, so signing them only produced pairs that silently
    // vanished in [[dedupLshVerified]] — drop them here, symmetrically
    val sigs = docs.flatMap { case (id, text) =>
      val toks = graft.index.Analysis.tokenize(text)
      if (toks.length < 3) None
      else {
        // r6: one MurmurHash per shingle, hoisted out of the permutation
        // loop (the old loop re-hashed every shingle string nPerm times —
        // the dominant CPU of the signature stage); mix(seed, h) per
        // permutation is unchanged, so signatures are bit-identical
        val n = toks.length - 2
        val hs = new Array[Long](n)
        var i = 0
        while (i < n) {
          hs(i) = scala.util.hashing.MurmurHash3
            .stringHash(s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}").toLong
          i += 1
        }
        val sig = Array.tabulate(nPerm) { p =>
          val seed = p.toLong * 0x9E37L + 17L
          var m = Long.MaxValue
          var j = 0
          while (j < n) {
            val h = graft.corpus.CorpusGen.mix(seed, hs(j))
            if (h < m) m = h
            j += 1
          }
          m
        }
        val bands = Array.tabulate(nPerm / bandSize) { b =>
          val h = sig.slice(b * bandSize, (b + 1) * bandSize)
            .foldLeft(1125899906842597L)((acc, v) => acc * 31 + v)
          (b, h)
        }
        Some((id, bands))
      }
    }
    // checkpoint: both self-join sides and the bucket-size cap read this —
    // otherwise the minhash signature computation runs 3×
    sigs.toDF("doc_id", "bands")
      .select(col("doc_id"), explode(col("bands")).as("band"))
      .select(col("doc_id"), col("band._1").as("band"), col("band._2").as("h"))
      .localCheckpoint()
  }

  /** MinHash + LSH candidate pairs. The signature stage is rows-only; the
    * band-join/cap/pair logic is oracled via the [[minhashBanded]] fixture.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val banded = minhashBanded(spark, dir)
    // candidate pairs = docs colliding in any band bucket (grouped on the
    // bucket key — no quadratic blowup outside a bucket), with DEGENERATE
    // buckets capped: a boilerplate/identical-text cluster of m docs would
    // otherwise emit m² pairs from one bucket (r2 verdict item 4 — the one
    // 100 TB scale hole). Pairs inside an over-cap bucket are dropped;
    // byte-identical texts are exact-dedup's job (dedupExact), and true
    // near-dups still collide in another, non-degenerate band.
    bucketPairs(cappedBuckets(banded, Seq("band", "h")), Seq("band", "h"))
  }

  /** Distinct co-bucket (id_a < id_b) pairs of an already-capped bucket
    * table. The capped ⋈ capped self-join is kept deliberately (r6): its
    * two hash Exchanges are identical subtrees, so ReuseExchange ships the
    * bucket table once, and the join runs on always-hot codegen paths — a
    * grouped collect_list + combination-explode variant measured worse
    * under the harness's interleaved-plan methodology (see dedupNgram).
    */
  private def bucketPairs(capped: DataFrame, key: Seq[String]): DataFrame =
    capped.as("x").join(capped.as("y"), key)
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()

  /** Per-bucket membership cap for LSH band buckets: above this, a bucket
    * generates no pairs (bounds any single bucket's fan-out at cap², and
    * the pair stage overall at buckets × cap²).
    */
  val LshBucketCap = 1000L

  /** Drop rows in over-cap buckets before pair generation. One extra
    * hash-agg + semi-join on the SAME key as the pair join — no new
    * shuffle pattern, and AQE sees the real bucket histogram.
    */
  private def cappedBuckets(banded: DataFrame, key: Seq[String]): DataFrame = {
    val ok = banded.groupBy(key.map(col): _*)
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= LshBucketCap)
      .select(key.map(col): _*)
    banded.join(ok, key, "left_semi")
  }

  /** The per-token 64-bit hash SimHash votes on. The hash itself is the
    * one non-SQL-portable piece of [[simhash]]: given the corpus's
    * (token, hash) map as a fixture, the tf-weighted voting and bit
    * packing are plain SQL (SparkEntry.oracleSqlDynamic).
    */
  def simhashTokenHash(tok: String): Long =
    graft.corpus.CorpusGen.mix(99L,
      scala.util.hashing.MurmurHash3.stringHash(tok).toLong)

  /** Distinct (tok, h) over the corpus vocabulary — the fixture table for
    * the dynamic simhash oracle.
    */
  def simhashTokenHashes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r6: per-doc array_distinct before the explode — ~2× fewer rows into
    // the global distinct exchange for the same vocabulary
    t(spark, dir, "documents")
      .select(explode(array_distinct(toksCol(col("text")))).as("term"))
      .distinct().as[String]
      .map(tok => (tok, simhashTokenHash(tok)))
      .toDF("tok", "h")
  }

  /** SimHash document signature. The token hash is rows-only; the voting /
    * bit-pack logic is oracled via the [[simhashTokenHashes]] fixture.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spread(spark, t(spark, dir, "documents").select("doc_id", "text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val votes = new Array[Long](64)
        graft.index.Analysis.tokenize(text).foreach { tok =>
          val h = simhashTokenHash(tok)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        var sig = 0L
        var b = 0
        while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
        (id, sig)
      }.toDF("doc_id", "simhash")
  }

  private def cosineCol(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), _ + _)
    val na = sqrt(aggregate(transform(ad, x => x * x), lit(0.0), _ + _))
    val nb = sqrt(aggregate(transform(bd, x => x * x), lit(0.0), _ + _))
    dot / (na * nb)
  }

  /** Int8 embedding quantization signals (r5): per vector, absmax scale
    * (scale = max|x|/127) and the quantized summary stats a training
    * pipeline checks before shipping int8 shards — q_sum/q_l1 of the
    * quantized values and the max reconstruction error. The rounding rule
    * is written out as `floor(x/scale + 0.5)` on BOTH sides of the gate
    * (Spark `round` and DuckDB `round` disagree on .5 ties — an explicit
    * floor is bit-identical in both). Scale shape: one narrow per-row pass
    * over the embeddings table, higher-order array expressions only, zero
    * shuffle, no driver state — embarrassingly parallel at any corpus size.
    */
  def embQuantize(spark: SparkSession, dir: String): DataFrame = {
    val x = transform(col("embedding"), v => v.cast("double"))
    val amax = array_max(transform(x, v => abs(v)))
    val scale = amax / lit(127.0)
    def qv(v: Column): Column = floor(v / scale + lit(0.5))
    t(spark, dir, "embeddings").select(
      col("vec_id"),
      size(col("embedding")).as("n_dims"),
      scale.as("scale"),
      when(amax === 0.0, lit(0L)).otherwise(
        aggregate(x, lit(0.0), (acc, v) => acc + qv(v)).cast("long"))
        .as("q_sum"),
      when(amax === 0.0, lit(0L)).otherwise(
        aggregate(x, lit(0.0), (acc, v) => acc + abs(qv(v))).cast("long"))
        .as("q_l1"),
      when(amax === 0.0, lit(0.0)).otherwise(
        array_max(transform(x, v => abs(v - qv(v) * scale)))).as("max_err"))
  }

  /** Brute-force cosine top-k against a fixed query vector (vec_id=0) —
    * the exact ANN baseline. The query vector joins via broadcast; the scan
    * is a single narrow pass.
    */
  def embedCosine(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    // r6: the query vector is ONE pushdown point-read row — inline it as
    // an array literal instead of broadcast-nested-loop-joining a 1-row
    // subquery. Catalyst constant-folds the literal's transform/aggregate
    // subtrees (the query-vector norm is computed once at plan time with
    // the same double ops), and the scan → project → TakeOrdered plan has
    // no join at all.
    val qv = typedLit(e.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0))
    e.select(col("vec_id"),
      round(cosineCol(col("embedding"), qv), 4).as("c"))
      .orderBy(desc("c"), asc("vec_id"))
      .limit(10)
  }

  private def cosFD(a: Array[Float], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) -2.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Nearest-centroid id, ties to the smaller id. */
  private def nearestCluster(cents: Array[(Int, Array[Double])],
      v: Array[Float]): Int = {
    var best = Int.MaxValue; var bestC = -3.0
    cents.foreach { case (cid, cv) =>
      val c = cosFD(v, cv)
      if (c > bestC || (c == bestC && cid < best)) { best = cid; bestC = c }
    }
    best
  }

  /** IVF ANN probe-set stage (rows-only — iterative k-means isn't
    * SQL-expressible): centroids (deterministic seeds = lowest
    * vec_ids, then Lloyd iterations as distributed per-dimension means),
    * cluster assignment via broadcast argmax, then the query probes its
    * `nprobe` nearest clusters only. The scale shape: centroids are O(k·dim)
    * driver state, assignment is one narrow pass, and a query touches
    * nprobe/k of the corpus — never a full scan, never an O(N) broadcast.
    * The query vector comes from a pruned point lookup on the SOURCE table
    * (round 1 ran `.head()` on the assigned table, forcing the whole
    * assignment job just to fetch one row).
    */
  def annIvfCandidates(spark: SparkSession, dir: String, kClusters: Int = 8,
      iters: Int = 3, nprobe: Int = 2, queryId: Long = 42L): DataFrame = {
    import spark.implicits._
    val e = t(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])]

    // deterministic init: the kClusters lowest vec_ids
    var cents: Array[(Int, Array[Double])] = e
      .filter(col("vec_id") < kClusters).collect().sortBy(_._1)
      .map { case (id, v) => (id.toInt, v.map(_.toDouble)) }

    // Lloyd: assign (broadcast argmax) → per-dimension mean via hash agg.
    // The mean is an exact FIXED-POINT sum (Long addition is associative),
    // not avg() over doubles, whose partial-merge order follows shuffle
    // fetch order: the op and its dynamic oracle fixture recompute this
    // pipeline independently, and a bitwise-wobbling centroid could flip a
    // near-tie assignment between the two runs, silently desyncing the
    // probe set from the fixture. 2^20 quantization keeps cluster sums
    // far from Long overflow even at 10^9-doc clusters.
    val Fx = (1L << 20).toDouble
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val means = e.map { case (_, v) => (nearestCluster(bc.value, v), v) }
        .toDF("cluster", "v")
        .select(col("cluster"), posexplode(col("v")))
        .groupBy(col("cluster"), col("pos"))
        .agg((sum(round(col("col") * Fx).cast("long")).cast("double") /
          count(lit(1)) / Fx).as("m"))
        .groupBy(col("cluster"))
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("dims"))
        .as[(Int, Seq[(Int, Double)])].collect()
        .map { case (c, dims) => c -> dims.map(_._2).toArray }.toMap
      cents = cents.map { case (c, old) => (c, means.getOrElse(c, old)) }
    }
    val bc = spark.sparkContext.broadcast(cents)
    val assigned = e
      .map { case (id, v) => (id, nearestCluster(bc.value, v), v) }
      .toDF("vec_id", "cluster", "embedding")

    // query vector: point lookup on the source table (k-row collect)
    val qv = e.filter(col("vec_id") === queryId).head()._2
    val qClusters: Seq[Int] = cents
      .map { case (cid, cv) => (cid, cosFD(qv, cv)) }
      .sortBy { case (cid, c) => (-c, cid) }
      .take(nprobe).map(_._1).toSeq
    assigned
      .filter(col("cluster").isin(qClusters: _*) && col("vec_id") =!= queryId)
      .select("vec_id", "embedding")
  }

  /** IVF ANN top-k: score the probed candidate set ([[annIvfCandidates]])
    * against the query vector with the same codegen cosine + rounding the
    * exact baseline ([[embedCosine]]) uses. The Lloyd/assignment stage is
    * rows-only; given the candidate ids as a fixture, this scoring stage
    * is plain SQL (SparkEntry.oracleSqlDynamic).
    */
  def annIvf(spark: SparkSession, dir: String, kClusters: Int = 8,
      iters: Int = 3, nprobe: Int = 2, queryId: Long = 42L,
      k: Int = 10): DataFrame = {
    val cand = annIvfCandidates(spark, dir, kClusters, iters, nprobe, queryId)
    val q = t(spark, dir, "embeddings")
      .filter(col("vec_id") === queryId)
      .select(col("embedding").as("qv"))
    cand.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosineCol(col("embedding"), col("qv")), 4).as("c"))
      .orderBy(desc("c"), asc("vec_id"))
      .limit(k)
  }

  /** Embedding-cosine near-dup via random-hyperplane LSH (SimHash for
    * vectors; rows-only — the hyperplane draws aren't portable to DuckDB):
    * deterministic hyperplanes → sign-bit signatures → band-bucket equi-join
    * for candidates (never an all-pairs product) → exact cosine verification
    * of candidates only. The 100 TB shape for "drop near-identical
    * embeddings": signatures are one narrow pass, candidate generation is a
    * shuffle join on the bucket key, verification is O(candidates).
    */
  /** The LSH band-bucket candidate stage of [[embNearDup]], exposed on its
    * own (r5): given these pairs as a fixture, the verify stage — exact
    * cosine + threshold — is plain SQL, which is how the driver oracle
    * checks it (SparkEntry.oracleSqlDynamic embeds this pair list as a
    * VALUES fixture).
    */
  def embNearDupCandidates(spark: SparkSession, dir: String, bits: Int = 32,
      bands: Int = 4): DataFrame = {
    // 8-bit bands (256 buckets each) keep within-bucket pair generation
    // sub-quadratic at scale while true near-dups (cosine ~1) still collide
    // in >=1 band with probability ~1
    import spark.implicits._
    val e = t(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])]
    val dim = e.head()._2.length // k-row point lookup for the dimensionality
    // deterministic gaussian hyperplanes (seeded; independent of data order)
    val rng = new java.util.Random(424242L)
    val planes = Array.fill(bits)(Array.fill(dim)(rng.nextGaussian()))
    val bp = spark.sparkContext.broadcast(planes)
    val perBand = bits / bands
    val sigs = e.map { case (id, v) =>
      var sig = 0L
      var b = 0
      while (b < bits) {
        val h = bp.value(b)
        var dot = 0.0; var i = 0
        while (i < v.length) { dot += h(i) * v(i); i += 1 }
        if (dot >= 0) sig |= (1L << b)
        b += 1
      }
      (id, sig)
    }.toDF("vec_id", "sig")
    // checkpointed (reused by the cap + both join sides) and bucket-capped —
    // same degenerate-bucket guard as minhashLsh (r2 verdict item 4)
    val banded = sigs.select(col("vec_id"), explode(sequence(lit(0),
        lit(bands - 1))).as("band"),
        col("sig"))
      .select(col("vec_id").as("doc_id"), col("band"),
        expr(s"(sig >> (band * $perBand)) & ${(1L << perBand) - 1}").as("h"))
      .localCheckpoint()
    // same grouped pair generation as minhashLsh (r6) — see [[bucketPairs]]
    bucketPairs(cappedBuckets(banded, Seq("band", "h")), Seq("band", "h"))
  }

  def embNearDup(spark: SparkSession, dir: String, bits: Int = 32,
      bands: Int = 4, threshold: Double = 0.9): DataFrame = {
    import spark.implicits._
    val cand = embNearDupCandidates(spark, dir, bits, bands)
    val e = t(spark, dir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])]
    // exact verification of candidates only
    val ea = e.toDF("id_a", "va")
    val eb = e.toDF("id_b", "vb")
    cand.join(ea, "id_a").join(eb, "id_b")
      .withColumn("c", cosineCol(col("va"), col("vb")))
      .filter(col("c") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("c"), 4).as("cos"))
  }

  /** S5 analog: semi-structured payload → typed field (the reference's
    * nested-dict path extraction, indexdata.py:430–1171). Regex-based so the
    * oracle needs no JSON extension.
    */
  def fieldExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").select(col("event_id"),
      regexp_extract(col("props"), "([0-9]+)", 1).cast("int").as("k"))

  /** P7: ISO-8601 `%Y-%m-%dT%H:%M:%SZ` date normalization
    * (indexdata.py:582–587).
    */
  def dateFormatIso(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").select(col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("iso"))

  /** S1: single-document point lookup (indexdata.py:1625–1626). */
  def sourceLookup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").filter(col("doc_id") === 123)
      .select("doc_id", "lang", "n_chars")

  /** S2: manifest-list source — left-semi join against an id list
    * (indexdata.py:1627–1634).
    */
  def sourceManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val manifest = Seq(1L, 5L, 99L, 250L, 499L, 9999L).toDF("doc_id")
    t(spark, dir, "documents")
      .join(broadcast(manifest), Seq("doc_id"), "left_semi")
      .select("doc_id", "source")
  }

  /** P5/P6: language-variant selection (pick the English doc per group,
    * indexdata.py:533–573).
    */
  def langSelect(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").filter(col("lang") === "en")
      .groupBy("source").agg(min("doc_id").as("first_en_doc"))

  /** Facet counting — the Solr facet analog noted in SURVEY.md §2.6. */
  def facetCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").groupBy("lang", "source")
      .agg(count(lit(1)).as("cnt"))

  /** F5/F6: temporal sanity gate (indexdata.py:360–428): in-range vs
    * quarantined counts.
    */
  def temporalSanity(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select((col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1992-01-01 00:00:00")) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1999-01-01 00:00:00")))
        .as("valid"))
      .groupBy("valid").agg(count(lit(1)).as("cnt"))

  /** Multimodal plumbing (rows-only decode stub): treat content bytes as an
    * opaque binary column, extract typed metadata. The real decode
    * (image/audio libs) is stubbed deterministically — the Spark-side schema,
    * batching and partitioning are the part under test.
    */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("bin"))
      .select(col("doc_id"),
        length(col("bin")).as("n_bytes"),
        hex(substring(col("bin"), 1, 8)).as("header_hex"))

  // --------------------------- MMD pivot analogs (r5: P18/P20/P21/P23/P25)
  // The reference routes XML metadata sub-records through fixed LUTs into
  // per-slot fields; web-page input has no MMD records, so each analog below
  // runs the SAME computational shape (LUT pivot with silent unknown-drop,
  // group-by-type arrays + first-value, relation filter + id sanitize, LUT
  // slotting with a literal default, double-index with a vocabulary filter)
  // over the driver's events/orders/documents tables. All concatenated
  // "array" columns are sorted before joining so Spark and DuckDB agree.

  /** The P18 role LUT (indexdata.py:439–443: 4 known roles, anything else
    * silently dropped — the reference `break`s out of the personnel loop).
    */
  private val PersonnelRoleLut: Seq[(String, String)] = Seq(
    "click" -> "investigator", "view" -> "technical_contact",
    "purchase" -> "metadata_author", "signup" -> "datacenter_contact")

  /** P18: personnel pivot (indexdata.py:774–841) — route sub-records through
    * a 4-role LUT into `personnel_<role>_*` fields; unknown roles dropped
    * silently. One hash-agg pass: conditional count + sorted id list per
    * role (map-side partial agg; no shuffle beyond the groupBy key).
    */
  def personnelPivot(spark: SparkSession, dir: String): DataFrame = {
    val cols = PersonnelRoleLut.flatMap { case (typ, role) =>
      Seq(
        count(when(col("event_type") === typ, lit(1)))
          .as(s"personnel_${role}_n"),
        // sort numerically THEN stringify, matching the oracle's ORDER BY
        array_join(transform(sort_array(collect_list(
          when(col("event_type") === typ, col("event_id")))),
          _.cast("string")), ",")
          .as(s"personnel_${role}_ids"))
    }
    t(spark, dir, "events")
      .groupBy("user_id").agg(cols.head, cols.tail: _*)
  }

  /** P20: data-access group-by-type (indexdata.py:873–892) — per record,
    * bucket access entries by their normalized type slug into an array,
    * plus the `wms_layers`-style first-value extract (deterministic
    * min-by-id). Long form: one row per (record, slug).
    */
  def accessPivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("access_type",
        lower(regexp_replace(col("event_type"), "[ -]", "_")))
      .groupBy("user_id", "access_type")
      .agg(
        array_join(transform(sort_array(collect_list(col("event_id"))),
          _.cast("string")), ",").as("access_ids"),
        min_by(col("props"), col("event_id")).as("first_props"))

  /** P21: related-dataset parent reference (indexdata.py:894–921) — keep
    * only relation_type == 'parent' entries and sanitize the referenced id
    * ([:/.] → '-', same rule as P1).
    */
  def parentRef(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderstatus") === "P")
      .select(col("o_orderkey"),
        translate(concat(lit("order:"), col("o_orderkey")), ":/.", "---")
          .as("parent_id"))

  /** P23: related-information URL slots (indexdata.py:444–455, 946–968) —
    * map each entry's type through a fixed LUT to a `related_url_<slug>`
    * slot, description defaulting to 'Not Available'; types outside the
    * LUT are dropped.
    */
  def relatedUrlLut(spark: SparkSession, dir: String): DataFrame = {
    val lut = Map("click" -> "documentation", "view" -> "landing_page",
      "purchase" -> "order_data", "signup" -> "registration")
    val slot = lut.foldLeft(lit(null).cast("string")) {
      case (e, (typ, slug)) =>
        when(col("event_type") === typ, lit(slug)).otherwise(e)
    }
    t(spark, dir, "events")
      .withColumn("related_url_slot", slot)
      .filter(col("related_url_slot").isNotNull) // silent LUT drop
      .select(col("event_id"), col("related_url_slot"),
        coalesce(col("props"), lit("Not Available")).as("description"))
  }

  /** The P25 "GCMDSK" vocabulary analog: the fixed controlled set whose
    * members double-index into the vocab-specific field.
    */
  private val KeywordVocab = Seq("spark", "window", "data", "group",
    "the", "of")

  /** P25: keywords double-index (indexdata.py:981–1030) — every keyword
    * indexes into `keywords_keyword`; members of the controlled vocabulary
    * double-index into `keywords_gcmd`; `keywords_wigos` is always empty
    * (the reference emits it unconditionally). Pure HOF plan: split →
    * filter → distinct → sort → join/filter, no UDF, one narrow pass.
    */
  def keywordsDouble(spark: SparkSession, dir: String): DataFrame = {
    val toks = array_sort(array_distinct(toksCol(col("text"))))
    t(spark, dir, "documents").select(
      col("doc_id"),
      array_join(toks, ",").as("keywords_keyword"),
      array_join(filter(toks,
        x => x.isin(KeywordVocab: _*)), ",").as("keywords_gcmd"),
      lit("").as("keywords_wigos"))
  }

  // ------------------------------------- Solr component analogs (r5 tail)

  /** Solr MoreLikeThis (mlt component on the reference's Solr backend,
    * reachable from the same searchindex.py call-site string surface):
    * given a source document, rank its terms by tf·idf (BM25 idf, the one
    * scoring rule this engine has), keep terms with tf ≥ minTf and
    * df ≥ minDf (Solr mlt.mintf/mlt.mindf), take the top maxTerms
    * "interesting terms", and run them as an OR query over the corpus with
    * the source doc excluded — BM25 top-k out.
    *
    * Scale shape: the candidate-term df aggregation is filtered to the
    * SOURCE DOC's vocabulary before the shuffle (bounded by one doc's
    * length, not the corpus vocabulary), the selected term set (≤ maxTerms
    * rows) broadcasts into the scoring join, and the scoring pass is the
    * same single-tf-derivation plan as [[bm25Scored]]. Term selection is
    * fully deterministic: tf·idf rounded to 4 decimals, term-asc tiebreak.
    */
  def moreLikeThis(spark: SparkSession, dir: String, srcDoc: Long = 7L,
      maxTerms: Int = 10, minTf: Long = 2L, minDf: Long = 2L,
      k: Int = 10): DataFrame = {
    import spark.implicits._
    // r6: the source doc's term vector is ONE pushdown point-read row,
    // tokenized driver-side with the engine tokenizer (Analysis.tokenize ==
    // toksCol, the project-wide single-definition invariant) — the old plan
    // derived it from a corpus-scale (doc, term, tf) checkpoint. With the
    // candidate terms known up front, the rest is the same narrow matched-
    // occurrence shape as bm25Scored: per-doc doclen + in-row term filter,
    // stats from a qtoks-pruned aggregate, df from the matched explode.
    val srcText = t(spark, dir, "documents")
      .filter(col("doc_id") === srcDoc).select("text")
      .as[String].take(1).headOption.getOrElse("")
    val srcTf: Seq[(String, Long)] =
      graft.index.Analysis.tokenize(srcText).toSeq
        .groupBy(identity).view
        .map { case (tm, occ) => (tm, occ.length.toLong) }
        .filter(_._2 >= minTf).toSeq.sortBy(_._1)
    val srcTerms = srcTf.map(_._1)
    val perDoc = spread(spark,
        t(spark, dir, "documents").select("doc_id", "text"))
      .select(col("doc_id"), toksCol(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("doclen"),
        filter(col("toks"), x => x.isin(srcTerms: _*)).as("qtoks"))
      .filter(col("doclen") > 0)
      .localCheckpoint()
    // ONE aggregation job over the checkpoint for n_docs + avgdl +
    // per-candidate-term df, exactly like bm25Scored (r6)
    val dfAggs = srcTerms.map(tm =>
      count(when(array_contains(col("qtoks"), tm), lit(1))).as(s"df_$tm"))
    val row = perDoc
      .agg(count(lit(1)).as("n_docs"), (avg("doclen").as("avgdl") +: dfAggs): _*)
      .head()
    val (nDocs, avgdl) = (row.getLong(0), row.getDouble(1))
    val dfMap: Map[String, Long] = srcTerms.zipWithIndex.flatMap {
      case (tm, i) =>
        val df = row.getLong(2 + i)
        if (df == 0L) None else Some(tm -> df)
    }.toMap
    // "interesting terms" selection is pure scalar math over ≤ |src doc
    // vocabulary| candidates — run it on the driver with the SAME double
    // ops and HALF_UP 4-decimal rounding the old in-plan expression used
    // (Spark Round on DoubleType = BigDecimal.valueOf(x).setScale(4,
    // HALF_UP)), mlt-desc/term-asc tiebreak unchanged
    def round4(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val qt: Seq[(String, Long)] = srcTf
      .flatMap { case (tm, stf) => dfMap.get(tm).map(df => (tm, stf, df)) }
      .filter(_._3 >= minDf)
      .map { case (tm, stf, df) =>
        (tm, df, round4(BM25.idf(nDocs, df) * stf))
      }
      .sortBy { case (tm, _, mlt) => (-mlt, tm) }
      .take(maxTerms)
      .map { case (tm, df, _) => (tm, df) }
    // final scoring: the same in-row fold as bm25Scored, weights = plain
    // idf of the selected terms (unboosted: ×1.0 is IEEE-exact)
    val weights: Map[String, Double] = qt.map { case (tm, df) =>
      tm -> BM25.idf(nDocs, df)
    }.toMap
    val qtTerms = qt.map(_._1)
    perDoc
      .filter(col("doc_id") =!= srcDoc)
      .withColumn("qd", filter(col("qtoks"), x => x.isin(qtTerms: _*)))
      .filter(size(col("qd")) > 0)
      .select(col("doc_id"),
        bm25RowScore(col("qd"), weights, avgdl).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Solr facet.pivot=lang,source — nested facet counts over two stored
    * fields: the topA values of the first field by total count, and within
    * each, the topB values of the second by pair count. Distinct from the
    * flat [[facetCount]] group-by: pivot is top-N-within-top-N with
    * deterministic count-desc / value-asc ordering at both levels.
    *
    * Scale shape: ONE corpus-scale shuffle (the (lang, source) pair agg);
    * the per-lang totals, the topA cut, and the per-lang row_number window
    * all operate on the aggregated pair table (|langs|·|sources| rows, not
    * corpus rows), and the topA set broadcasts back into the pair table.
    */
  def facetPivot(spark: SparkSession, dir: String, topA: Int = 5,
      topB: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r6: checkpoint the aggregated pair table — |langs|·|sources| rows,
    // facet cardinality, tiny at any corpus size. Without it Catalyst
    // planned the aTop branch as a SECOND corpus scan + aggregation (the
    // partial-agg chains differ, so the exchange is not reused); with it
    // the one corpus-scale pass runs once and everything downstream
    // (totals, topA cut, window) operates on facet-cardinality rows.
    val ab = t(spark, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val aTop = ab.groupBy("lang").agg(sum("cnt").as("lang_cnt"))
      .orderBy(desc("lang_cnt"), asc("lang")).limit(topA)
    ab.join(broadcast(aTop), "lang")
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang")
          .orderBy(desc("cnt"), asc("source"))).cast("int"))
      .filter(col("rn") <= topB)
      .select("lang", "lang_cnt", "source", "cnt", "rn")
  }

  /** Solr highlighting (hl component) analog: BM25 top-k for the two-term
    * OR query, each hit carrying a snippet of ±5 analyzed tokens around the
    * first occurrence of any query term, query terms wrapped in `<em>`.
    * Anchoring on the ANALYZED token stream (not raw-substring offsets) is
    * what Lucene's highlighter does and keeps 'spark' inside larger tokens
    * from anchoring a fragment.
    *
    * Scale shape: the snippet pass is a broadcast-semi-joined narrow map
    * over only the k result docs (tokenize + array ops, whole-stage
    * codegen); the corpus-scale work is the same bm25Scored plan.
    */
  def highlightTopK(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("spark", "window"), k: Int = 10): DataFrame = {
    val topk = bm25Scored(spark, dir, terms)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
    val toks = toksCol(col("text"))
    // array_position is 0 when absent; anchor = first (min) position of any
    // present query term (every top-k doc matched ≥ 1 term, so p ≥ 1)
    val positions = terms.map(tm => array_position(toks, tm))
    val anyPos = positions.reduce((a, b) =>
      when(a > 0 && b > 0, least(a, b)).otherwise(greatest(a, b)))
    // join FIRST, then tokenize: the snippet expressions evaluate only for
    // the k joined rows, not corpus-wide
    t(spark, dir, "documents").select(col("doc_id"), col("text"))
      .join(broadcast(topk), "doc_id")
      .select(col("doc_id"), col("score"), toks.as("t"), anyPos.as("p"))
      .withColumn("s", greatest(lit(1L), col("p") - 5))
      .select(col("doc_id"), col("score"), array_join(transform(
        slice(col("t"), col("s").cast("int"),
          (col("p") + lit(5L) - col("s") + lit(1L)).cast("int")),
        x => when(x.isin(terms: _*),
          concat(lit("<em>"), x, lit("</em>"))).otherwise(x)),
        " ").as("snippet"))
  }

  /** Solr hl.snippets analog (r5): up to `snippets` fragments per top-k
    * doc — one per PRESENT query term, anchored at that term's first
    * occurrence, emitted in anchor-position order (Solr returns the best N
    * fragments; first-occurrence-per-term is the deterministic analog —
    * exact fragment choice is presentation, not ranking). `half` is the
    * hl.fragsize analog in tokens each side of the anchor. Same scale
    * shape as [[highlightTopK]]: join first, tokenize only the k winners.
    */
  def highlightSnippets(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("spark", "window"), k: Int = 10,
      snippets: Int = 2, half: Int = 5): DataFrame = {
    require(snippets >= 1 && half >= 1, "hl.snippets/fragsize must be >= 1")
    val topk = bm25Scored(spark, dir, terms)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
    val toks = toksCol(col("text"))
    // ascending first-occurrence positions of the PRESENT terms, cut at
    // `snippets` — one row per fragment after the explode
    val anchors = slice(array_sort(filter(
      array(terms.map(tm => array_position(toks, tm)): _*),
      p => p > 0)), 1, snippets)
    t(spark, dir, "documents").select(col("doc_id"), col("text"))
      .join(broadcast(topk), "doc_id")
      .select(col("doc_id"), col("score"), toksCol(col("text")).as("t"),
        explode(anchors).as("p"))
      .withColumn("s", greatest(lit(1L), col("p") - half))
      .select(col("doc_id"), col("score"), col("p"), array_join(transform(
        slice(col("t"), col("s").cast("int"),
          (col("p") + lit(half.toLong) - col("s") + lit(1L)).cast("int")),
        x => when(x.isin(terms: _*),
          concat(lit("<em>"), x, lit("</em>"))).otherwise(x)),
        " ").as("snippet"))
      .orderBy(desc("score"), asc("doc_id"), asc("p"))
  }
}
