package graft.oracle

import scala.collection.mutable

import graft.index.{Analysis, BM25}
import graft.query.{QueryAst, QueryParser, QueryResolve, RangeFilter,
  ResolvedQuery, Wand}

/** Oracle-side document: mirrors the engine's stored fields. */
final case class OracleDoc(docId: Long, text: String, lang: String = "en",
    url: String = "", tsMillis: Long = 0L, title: String = "")

/** Sequential in-memory reference implementation (SURVEY.md §5.1) — the
  * keystone oracle standing in for a live Solr instance. Same tokenizer,
  * exact-arithmetic tf/df/BM25 with PER-FIELD length norms (text + title),
  * naive uncompressed postings WITH positions (title terms under
  * "title:"-qualified keys), exhaustive scoring, clause-based boolean
  * matching identical to the parser's DNF semantics, top-k by
  * (-score, docId). Every distributed result must be rank-identical (docIds
  * equal, scores within 1e-9) to this on the fixed query set (FIXTURES.md §3).
  *
  * Per-doc score = sum of per-term contributions in TERM-SORTED order —
  * the same summation order the distributed WAND scorer fixes, so scores
  * agree to the last bit, not just within tolerance.
  */
final class SeqOracle(docs: Seq[OracleDoc]) {

  /** Legacy-tuple constructor: (docId, text, lang). */
  def this(docs: Seq[(Long, String, String)])(implicit d: DummyImplicit) =
    this(docs.map(t => OracleDoc(t._1, t._2, t._3)))

  val n: Long = docs.size.toLong
  private val doclen = mutable.LongMap.empty[Long]
  private val titleLen = mutable.LongMap.empty[Long]
  private val docLang = mutable.LongMap.empty[String]
  private val docUrl = mutable.LongMap.empty[String]
  private val docTs = mutable.LongMap.empty[Long]
  // term key -> sorted (docId, tf); title terms under "title:tok" keys
  private val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  // (term, docId) -> ascending within-field token positions
  private val positions = mutable.HashMap.empty[(String, Long), Array[Int]]

  docs.sortBy(_.docId).foreach { d =>
    docLang(d.docId) = d.lang
    docUrl(d.docId) = d.url
    docTs(d.docId) = d.tsMillis
    def indexField(text: String, keyPrefix: String): Long = {
      val toks = Analysis.tokenize(text)
      val tf = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
      toks.zipWithIndex.foreach { case (t, p) =>
        tf.getOrElseUpdate(keyPrefix + t, mutable.ArrayBuffer.empty) += p
      }
      tf.foreach { case (t, ps) =>
        postings.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((d.docId, ps.length.toLong))
        positions((t, d.docId)) = ps.toArray
      }
      toks.length.toLong
    }
    doclen(d.docId) = indexField(d.text, "")
    titleLen(d.docId) = indexField(d.title, "title:")
  }

  val totalTerms: Long = doclen.values.sum
  val avgdl: Double = if (n == 0) 0.0 else totalTerms.toDouble / n
  val titleTerms: Long = titleLen.values.sum
  val titleAvgdl: Double = if (n == 0) 0.0 else titleTerms.toDouble / n
  def df(term: String): Long = postings.get(term).map(_.size.toLong).getOrElse(0L)
  def cf(term: String): Long = postings.get(term).map(_.map(_._2).sum).getOrElse(0L)

  private def dlOf(term: String, id: Long): Long =
    if (term.startsWith("title:")) titleLen(id) else doclen(id)
  private def avgdlOf(term: String): Double =
    if (term.startsWith("title:")) titleAvgdl else avgdl

  private def parseTs(v: String): Long = java.time.Instant.parse(v).toEpochMilli

  /** The engine's stored-field predicate semantics, mirrored exactly:
    * lang = exact, url = substring containment, ranges inclusive with `*`
    * open ends (lexicographic for url/lang, instant-parse for warc_ts —
    * bounds are validated at parse time, so both sides share one grammar).
    */
  private def fieldFilterOk(ast: QueryAst)(id: Long): Boolean = {
    ast.langFilter.forall(l => docLang(id) == l) &&
    ast.urlFilter.forall(u => docUrl(id).contains(u)) &&
    ast.rangeFilters.forall {
      case RangeFilter("warc_ts", lo, hi, il, ih) =>
        val t = docTs(id)
        lo.forall(v => if (il) t >= parseTs(v) else t > parseTs(v)) &&
          hi.forall(v => if (ih) t <= parseTs(v) else t < parseTs(v))
      case RangeFilter("url", lo, hi, il, ih) =>
        val u = docUrl(id)
        lo.forall(v => if (il) u >= v else u > v) &&
          hi.forall(v => if (ih) u <= v else u < v)
      case RangeFilter("lang", lo, hi, il, ih) =>
        val l = docLang(id)
        lo.forall(v => if (il) l >= v else l > v) &&
          hi.forall(v => if (ih) l <= v else l < v)
      case RangeFilter(f, _, _, _, _) =>
        throw new IllegalArgumentException(s"unsupported range field $f")
    }
  }

  /** Top-k for a parsed query; tiebreak (-score, docId). `after` = the
    * searchAfter anchor: the page of k results ranking strictly after it.
    * `fq`/`qOp` mirror [[graft.query.QueryEngine.search]]: fq match sets
    * intersect the result WITHOUT touching scores; qOp is the parser's
    * default operator. `qf` is the edismax multi-field surface: the parser
    * fans unqualified plain terms out per field ([[graft.query.MultiLit]]),
    * so the oracle scores them through the exact same resolve step as any
    * other one-of-a-set literal — no oracle-side scoring change.
    */
  def topK(query: String, k: Int, df: String = "text",
      after: Option[(Long, Double)] = None, fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0)
      : Seq[(Long, Double)] = {
    val ast = QueryParser.parse(query, df, qOp, qf, tie)
    var all = candidates(ast)
    fq.foreach { s =>
      val ok = fqMatchOk(s, df, qOp)
      all = all.filter { case (id, _) => ok(id) }
    }
    after match {
      case None => all.take(k)
      case Some((aId, aScore)) => all.filter { case (id, s) =>
        s < aScore || (s == aScore && id > aId) }.take(k)
    }
  }

  /** fq membership predicate — the engine's fq split, mirrored: a
    * term-bearing fq is its own candidate set (stored-field filters
    * applied inside [[candidates]]); a pure-filter fq is the stored-field
    * predicate alone.
    */
  private def fqMatchOk(s: String, df: String,
      qOp: String): Long => Boolean = {
    val ast = QueryParser.parse(s, df, qOp)
    if (ast.matchAll) (_: Long) => true // fq=*:* constrains nothing
    else if (ast.scoringLits.nonEmpty) {
      val ids = candidates(ast).map(_._1).toSet
      ids.contains
    } else if (ast.hasFieldFilter) fieldFilterOk(ast)
    else throw new IllegalArgumentException(
      s"fq '$s' has no terms and no stored-field filters")
  }

  /** [[candidates]] intersected with every fq's match predicate — the one
    * match-set entry all fq-aware consumer twins share (mirrors the
    * engine's applyFq).
    */
  private def candidatesFq(query: String, df: String,
      fq: Seq[String], qOp: String = "OR",
      qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): Seq[(Long, Double)] = {
    // qf/tie shape the MAIN query's match set and scores; fq strings stay
    // qf-free (engine applyFq parses fq without qf — Solr's standard-parser
    // fq), so fqMatchOk needs no qf param
    var all = candidates(QueryParser.parse(query, df, qOp, qf, tie))
    fq.foreach { s =>
      val ok = fqMatchOk(s, df, qOp)
      all = all.filter { case (id, _) => ok(id) }
    }
    all
  }

  /** Solr facet.query twin of [[graft.query.QueryEngine.facetQuery]]:
    * per sub-query, |match(main) ∩ match(sub)| — zeros included, input
    * order preserved.
    */
  def facetQuery(query: String, subQueries: Seq[String],
      df: String = "text", fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): Seq[(String, Long)] = {
    val baseIds = candidatesFq(query, df, fq, qOp, qf, tie).map(_._1)
    subQueries.map { s =>
      val ok = fqMatchOk(s, df, qOp)
      (s, baseIds.count(ok).toLong)
    }
  }

  /** Solr sort= twin of [[graft.query.QueryEngine.searchSorted]]: matching
    * docIds ordered by a stored field with a docId-ASCENDING tiebreak in
    * both directions (pre-sort by docId, then a stable sort by the field).
    */
  def topKSorted(query: String, sortField: String, ascending: Boolean,
      k: Int, df: String = "text", fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): Seq[Long] =
    topKSortedMulti(query, Seq((sortField, ascending)), k, df, fq, qOp,
      qf, tie)

  /** Compound-sort twin of [[graft.query.QueryEngine.searchSortedMulti]]:
    * per-key direction, docId-ascending final tiebreak (the ids are
    * pre-sorted ascending and the composite sort is stable).
    */
  def topKSortedMulti(query: String, sorts: Seq[(String, Boolean)],
      k: Int, df: String = "text", fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): Seq[Long] = {
    val ids = candidatesFq(query, df, fq, qOp, qf, tie).map(_._1).sorted
    def ord(field: String, asc: Boolean): Ordering[Long] = {
      def by[T](key: Long => T)(implicit o: Ordering[T]): Ordering[Long] =
        Ordering.by(key)(if (asc) o else o.reverse)
      field match {
        case "url"      => by(docUrl)
        case "lang"     => by(docLang)
        case "warc_ts"  => by(docTs)
        case "doclen"   => by(doclen)
        case "titleLen" => by(titleLen)
        case f => throw new IllegalArgumentException(s"unsupported sort field $f")
      }
    }
    val combined = sorts.map { case (f, a) => ord(f, a) }
      .reduce((a, b) => a.orElse(b))
    ids.sorted(combined).take(k)
  }

  /** Solr facet.range twin of [[graft.query.QueryEngine.facetRange]]:
    * (bucketStartMillis, count) per non-empty gap-second bucket within
    * `[start, end)`, bucket-ordered.
    */
  def facetRange(query: String, startIso: String, endIso: String,
      gapSec: Long, df: String = "text", fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): Seq[(Long, Long)] = {
    val startMs = parseTs(startIso)
    val endMs = parseTs(endIso)
    candidatesFq(query, df, fq, qOp, qf, tie).map(_._1)
      .map(docTs)
      .filter(t => t >= startMs && t < endMs)
      .groupBy(t => (t - startMs) / (gapSec * 1000L))
      .map { case (b, ts) => (startMs + b * gapSec * 1000L, ts.size.toLong) }
      .toSeq.sortBy(_._1)
  }

  /** Solr stats.field twin of [[graft.query.QueryEngine.statsField]]:
    * (count, min, max, sum, mean) of a numeric stored field over all
    * matches. Returns None when nothing matches (the engine returns a
    * null-filled aggregate row there).
    */
  def statsField(query: String, field: String, df: String = "text",
      fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): Option[(Long, Long, Long, Long, Double)] = {
    val key: Long => Long = field match {
      case "doclen"   => doclen
      case "titleLen" => titleLen
      case f => throw new IllegalArgumentException(s"unsupported stats field $f")
    }
    val vs = candidatesFq(query, df, fq, qOp, qf, tie).map(c => key(c._1))
    if (vs.isEmpty) None
    else Some((vs.size.toLong, vs.min, vs.max, vs.sum,
      vs.sum.toDouble / vs.size))
  }

  /** Numeric facet.range twin of
    * [[graft.query.QueryEngine.facetRangeNumeric]]: (bucketStart, count)
    * per non-empty gap bucket within `[start, end)`, bucket-ordered.
    */
  def facetRangeNumeric(query: String, field: String, start: Long,
      end: Long, gap: Long, df: String = "text", fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): Seq[(Long, Long)] = {
    val key: Long => Long = field match {
      case "doclen"   => doclen
      case "titleLen" => titleLen
      case f => throw new IllegalArgumentException(s"unsupported range field $f")
    }
    candidatesFq(query, df, fq, qOp, qf, tie).map(c => key(c._1))
      .filter(v => v >= start && v < end)
      .groupBy(v => (v - start) / gap * gap + start)
      .map { case (b, vs) => (b, vs.size.toLong) }
      .toSeq.sortBy(_._1)
  }

  /** stats.calcdistinct twin of [[graft.query.QueryEngine.statsField]]'s
    * `calcDistinct` column: exact distinct count of the numeric field over
    * the match set.
    */
  def statsDistinct(query: String, field: String, df: String = "text",
      fq: Seq[String] = Nil, qOp: String = "OR",
      qf: Seq[(String, Double)] = Nil, tie: Double = 0.0): Long = {
    val key: Long => Long = field match {
      case "doclen"   => doclen
      case "titleLen" => titleLen
      case f => throw new IllegalArgumentException(s"unsupported stats field $f")
    }
    candidatesFq(query, df, fq, qOp, qf, tie).map(c => key(c._1)).distinct.size.toLong
  }

  /** Stats-percentiles twin of [[graft.query.QueryEngine.statsField]]'s
    * `percentiles` param: Spark's EXACT sort-based percentile — linear
    * interpolation at rank p·(n−1) over the sorted values. None when
    * nothing matches.
    */
  def statsPercentiles(query: String, field: String, ps: Seq[Double],
      df: String = "text", fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): Option[Seq[Double]] = {
    val key: Long => Long = field match {
      case "doclen"   => doclen
      case "titleLen" => titleLen
      case f => throw new IllegalArgumentException(s"unsupported stats field $f")
    }
    val vs = candidatesFq(query, df, fq, qOp, qf, tie).map(c => key(c._1).toDouble)
      .sorted.toIndexedSeq
    if (vs.isEmpty) None
    else Some(ps.map { p =>
      val rank = (p / 100.0) * (vs.size - 1)
      val lo = math.floor(rank).toLong
      val hi = math.ceil(rank).toLong
      // EXACT floating-point form of Spark's Percentile.getPercentile —
      // (hi−rank)·v(lo) + (rank−lo)·v(hi), NOT v(lo)+frac·Δ: the two
      // differ in the last ulp and the spec asserts bit equality
      if (hi == lo) vs(lo.toInt)
      else (hi - rank) * vs(lo.toInt) + (rank - lo) * vs(hi.toInt)
    })
  }

  /** Solr result-grouping twin of [[graft.query.QueryEngine.searchGrouped]]:
    * (fieldValue, rank, docId, score) — top-k by (-score, docId) within
    * every distinct field value, ordered (fieldValue asc, rank asc).
    */
  def topKGrouped(query: String, field: String, kPerGroup: Int,
      df: String = "text", fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): Seq[(String, Int, Long, Double)] = {
    // string stored fields only, matching QueryEngine.GroupableFields —
    // this twin orders group values as strings, which is only the engine's
    // ordering for string columns
    val key: Long => String = field match {
      case "lang" => docLang
      case "url"  => docUrl
      case f => throw new IllegalArgumentException(s"unsupported group field $f")
    }
    candidatesFq(query, df, fq, qOp, qf, tie)
      .groupBy(c => key(c._1))
      .toSeq.sortBy(_._1)
      .flatMap { case (v, cs) =>
        // candidates() is already (-score, docId)-ordered; stable groupBy
        // preserves it within the group
        cs.take(kPerGroup).zipWithIndex.map { case ((id, s), i) =>
          (v, i + 1, id, s)
        }
      }
  }

  /** Suggest twin of [[graft.query.QueryEngine.suggest]]: dictionary terms
    * within DL ≤ 2, ranked (distance asc, df desc, term asc), top n.
    */
  def suggest(term: String, n: Int = 5, field: String = "text")
      : Seq[(String, Int, Long)] = {
    val toks = Analysis.tokenize(term)
    require(toks.length == 1, s"suggest input '$term' must be one token")
    val key = if (field == "text") toks(0) else s"$field:${toks(0)}"
    val pfxLen = key.length - toks(0).length
    QueryResolve.dictMatch(postings.keys, QueryResolve.fuzzyMatch(key, 2))
      .map { k =>
        val t = k.substring(pfxLen)
        (t, graft.query.Fuzzy.distance(t, toks(0)), df(k))
      }
      .sortBy { case (t, d, c) => (d, -c, t) }.take(n)
  }

  /** Collation twin of [[graft.query.QueryEngine.collate]] — identical
    * rules: exact scoring terms only, per-field top suggestion, ambiguity
    * and no-change bail-outs, hit-bearing collations only.
    */
  def collate(query: String, field: String = "text", qOp: String = "OR")
      : Option[(String, Long)] = {
    val ast = QueryParser.parse(query, field, qOp)
    if (ast.matchAll) return None
    val exactKeys = ast.scoringLits
      .collect { case graft.query.ExactLit(k) => k }.distinct
    val missing = exactKeys.filter(df(_) == 0L)
    if (exactKeys.isEmpty || missing.isEmpty) return None
    // same protection rule as the engine twin: a correctable token must
    // have no other occurrence (phrase/multi-term/negative/filter) and no
    // present exact key in another field
    val protectedToks = graft.query.Spellcheck.protectedTokens(ast) ++
      exactKeys.filter(df(_) > 0L).map(k => k.substring(k.indexOf(':') + 1))
    var collated = query
    val byTok = missing.groupBy(k => k.substring(k.indexOf(':') + 1))
    for ((tok, keys) <- byTok.toSeq.sortBy(_._1)) {
      if (protectedToks.contains(tok)) return None
      val cands = keys.map { k =>
        val f = if (k.contains(":")) k.substring(0, k.indexOf(':')) else "text"
        suggest(tok, 1, f).headOption.map(_._1)
      }
      if (cands.exists(_.isEmpty) || cands.distinct.length != 1) return None
      collated = graft.query.Spellcheck.replaceToken(collated, tok,
        cands.head.get)
    }
    if (collated == query) return None
    val hits = candidates(QueryParser.parse(collated, field, qOp)).size.toLong
    if (hits > 0) Some((collated, hits)) else None
  }

  /** Terms-component twin of [[graft.query.QueryEngine.termsByPrefix]]. */
  def termsByPrefix(prefix: String, n: Int = 20, field: String = "text")
      : Seq[(String, Long)] = {
    val toks = Analysis.tokenize(prefix)
    require(toks.length == 1, s"terms prefix '$prefix' must be one token")
    val key = if (field == "text") toks(0) else s"$field:${toks(0)}"
    val pfxLen = key.length - toks(0).length
    QueryResolve.dictMatch(postings.keys, QueryResolve.prefixMatch(key))
      .take(n)
      .map(k => (k.substring(pfxLen), df(k)))
  }

  /** terms.regex twin of [[graft.query.QueryEngine.termsByRegex]]: field
    * dictionary tokens fully matching the regex, term-asc, capped, with df.
    */
  def termsByRegex(pattern: String, n: Int = 20, field: String = "text")
      : Seq[(String, Long)] = {
    val rx = java.util.regex.Pattern.compile(pattern)
    val fieldPfx = if (field == "text") "" else field + ":"
    val rule =
      QueryResolve.DictMatch(fieldPfx, rx.matcher(_).matches(), None, None, n)
    QueryResolve.dictMatch(postings.keys, rule)
      .map(k => (k.substring(fieldPfx.length), df(k)))
  }

  /** MoreLikeThis interesting-terms twin of
    * [[graft.query.QueryEngine.interestingTerms]]: tf from the analyzed
    * input, df/n from THIS oracle's in-memory postings (the engine side
    * aggregates segment metadata — parity here checks that path), tf·idf
    * ranked with the same 4-decimal rounding and (score desc, term asc)
    * order.
    */
  def interestingTerms(text: String, maxTerms: Int = 10, minTf: Int = 2,
      minDf: Long = 2L, field: String = "text"): Seq[String] = {
    val tfm = Analysis.tokenize(text).groupBy(identity)
      .map { case (t, a) => t -> a.length }
    tfm.collect { case (t, c) if c >= minTf => t }.toSeq.sorted
      .flatMap { t =>
        val key = if (field == "text") t else s"$field:$t"
        val d = df(key)
        if (d >= minDf)
          Some((t, math.rint(BM25.idf(n, d) * tfm(t) * 1e4) / 1e4))
        else None
      }.sortBy { case (t, s) => (-s, t) }.take(maxTerms).map(_._1)
  }

  /** facet.pivot twin of [[graft.query.QueryEngine.facetPivot]]: topA
    * values of fieldA by total match count, topB of fieldB within each
    * (count desc, value asc both levels). Returns
    * (a, aCnt, b, bCnt, rank) rows in the engine's output order.
    */
  def facetPivot(query: String, fieldA: String, fieldB: String,
      topA: Int = 5, topB: Int = 3, df: String = "text",
      fq: Seq[String] = Nil,
      qOp: String = "OR", qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): Seq[(String, Long, String, Long, Int)] = {
    def fieldOf(f: String): Long => String = f match {
      case "lang" => docLang(_)
      case "url"  => docUrl(_)
      case other => throw new IllegalArgumentException(s"pivot field $other")
    }
    val fa = fieldOf(fieldA); val fb = fieldOf(fieldB)
    val ids = candidatesFq(query, df, fq, qOp, qf, tie).map(_._1)
    val pairs = ids.groupBy(id => (fa(id), fb(id)))
      .map { case (k, v) => (k._1, k._2, v.size.toLong) }.toSeq
    val aTop = pairs.groupBy(_._1)
      .map { case (a, ps) => (a, ps.map(_._3).sum) }.toSeq
      .sortBy { case (a, c) => (-c, a) }.take(topA)
    aTop.flatMap { case (a, aCnt) =>
      pairs.filter(_._1 == a)
        .sortBy { case (_, b, c) => (-c, b) }.take(topB).zipWithIndex
        .map { case ((_, b, c), i) => (a, aCnt, b, c, i + 1) }
    }
  }

  private def resolve(ast: QueryAst): ResolvedQuery =
    QueryResolve.resolve(ast, QueryResolve.dictExpander(postings.keys))

  /** All matching (docId, score), ordered — the match set behind topK and
    * facet (Solr facets count over every match, not the page). Match =
    * ≥1 DNF clause satisfied; score = term-sorted sum of BM25 contributions
    * of every distinct positive query term the doc contains.
    */
  def candidates(ast: QueryAst): Seq[(Long, Double)] = {
    if (ast.matchAll)
      // Solr q=*:* twin: every doc at constant score 1.0, docId-ascending
      // (the (-score, docId) order with equal scores)
      return docs.map(_.docId).sorted
        .filter(fieldFilterOk(ast)).map(id => (id, 1.0))
    val rq = resolve(ast)
    val scoringTerms = rq.scoringTerms // distinct + sorted
    if (scoringTerms.isEmpty || rq.clauses.isEmpty) return Seq.empty

    val useTie = rq.tie != 1.0 && rq.groups.nonEmpty
    val scores = mutable.LongMap.empty[Double]
    if (!useTie) {
      scoringTerms.foreach { t =>
        postings.get(t).foreach { pl =>
          // boost folds into idf, same association as every engine path
          val idfv = BM25.idf(n, pl.size.toLong) * rq.boosts.getOrElse(t, 1.0)
          pl.foreach { case (id, tf) =>
            scores(id) = scores.getOrElse(id, 0.0) +
              BM25.score(tf, dlOf(t, id), avgdlOf(t), idfv)
          }
        }
      }
    } else {
      // edismax tie (ResolvedQuery.groups rule): gather each doc's
      // contributions in term-sorted order (the outer loop IS sorted), then
      // fold with per-entry factors — first group member at the group max
      // keeps 1, other members ×tie, ungrouped 1. Same association order
      // as the WAND scoreAt loop and the exhaustive fold.
      val gids = scoringTerms.map(rq.groups.getOrElse(_, 0)).toArray
      val contribs =
        mutable.LongMap.empty[mutable.ArrayBuffer[(Int, Double)]]
      scoringTerms.zipWithIndex.foreach { case (t, ti) =>
        postings.get(t).foreach { pl =>
          val idfv = BM25.idf(n, pl.size.toLong) * rq.boosts.getOrElse(t, 1.0)
          pl.foreach { case (id, tf) =>
            contribs.getOrElseUpdate(id, mutable.ArrayBuffer.empty) +=
              ((ti, BM25.score(tf, dlOf(t, id), avgdlOf(t), idfv)))
          }
        }
      }
      contribs.foreach { case (id, lst) =>
        val gmax = mutable.Map.empty[Int, Double]
        lst.foreach { case (ti, c) =>
          val g = gids(ti)
          if (g > 0 && c > gmax.getOrElse(g, Double.NegativeInfinity))
            gmax(g) = c
        }
        val taken = mutable.Set.empty[Int]
        var acc = 0.0
        lst.foreach { case (ti, c) => // appended in term-sorted order
          val g = gids(ti)
          if (g == 0) acc += c
          else if (!taken(g) && c == gmax(g)) { acc += c; taken += g }
          else acc += rq.tie * c
        }
        scores(id) = acc
      }
    }

    def present(t: String, id: Long): Boolean =
      positions.contains((t, id))

    def clausesOk(id: Long): Boolean = rq.clauses.exists { cl =>
      cl.mustGroups.forall(_.exists(present(_, id))) &&
      !cl.notTerms.exists(present(_, id)) &&
      cl.phrases.forall { ph =>
        Wand.phraseMatch(ph.terms.map(t =>
          positions.getOrElse((t, id), Array.empty[Int])), ph.slop)
      }
    }

    scores.toSeq
      .filter { case (id, _) => clausesOk(id) && fieldFilterOk(ast)(id) }
      .sortBy { case (id, s) => (-s, id) }
  }

  /** Facet counts over ALL matching docs (the Solr facet.field analog).
    * Returns (value, count) sorted by count desc, value asc.
    */
  def facet(query: String, field: String, fq: Seq[String] = Nil,
      minCount: Long = 1L, qOp: String = "OR",
      prefix: Option[String] = None,
      sortIndex: Boolean = false, offset: Int = 0,
      qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): Seq[(String, Long)] = {
    val vals = candidatesFq(query, "text", fq, qOp, qf, tie).map { case (id, _) =>
      field match {
        case "lang" => docLang(id)
        case "url"  => docUrl(id)
        case f      => throw new IllegalArgumentException(s"facet field $f")
      }
    }.filter(v => prefix.forall(v.startsWith))
    val counted = vals.groupBy(identity)
      .map { case (v, xs) => (v, xs.size.toLong) }
      .filter(_._2 >= minCount).toSeq
    (if (sortIndex) counted.sortBy(_._1)
     else counted.sortBy { case (v, c) => (-c, v) }).drop(offset)
  }

  /** Solr group.ngroups twin of [[graft.query.QueryEngine.countGroups]]:
    * distinct group values in the match set.
    */
  def ngroups(query: String, field: String, df: String = "text",
      fq: Seq[String] = Nil, qOp: String = "OR",
      qf: Seq[(String, Double)] = Nil, tie: Double = 0.0): Long = {
    val key: Long => String = field match {
      case "lang" => docLang
      case "url"  => docUrl
      case f => throw new IllegalArgumentException(s"unsupported group field $f")
    }
    candidatesFq(query, df, fq, qOp, qf, tie).map(c => key(c._1)).distinct.size.toLong
  }
}
