package graft.query

import scala.collection.mutable

import graft.index.Analysis

/** One stored-field range constraint `field:[lo TO hi]` (Lucene bracket
  * syntax at the reference's search call-site, searchindex.py:98). `[`/`]`
  * bounds are inclusive, `{`/`}` exclusive (Lucene classic; mixed forms like
  * `[a TO b}` allowed); `*` = open end. Fields: `url`, `lang`
  * (lexicographic) and `warc_ts` (ISO-8601 instant, validated at parse time
  * so the engine and the sequential oracle accept exactly the same literal
  * grammar).
  */
final case class RangeFilter(field: String, lo: Option[String],
    hi: Option[String], incLo: Boolean = true, incHi: Boolean = true)

/** A term literal after analysis. `key` is the field-qualified posting key:
  * bare tokens for the default `text` field, `"title:" + token` for the
  * title field (tokens never contain ':', so keys cannot collide).
  */
sealed trait TermLit { def key: String }
final case class ExactLit(key: String) extends TermLit
/** Trailing-`*` prefix query; expanded against the live dictionary by
  * [[QueryResolve.resolve]] (engine: pruned term-range scan; oracle: its
  * posting keys) under one shared deterministic cap.
  */
final case class PrefixLit(key: String) extends TermLit
/** Lucene `term~N` fuzzy query (N ∈ 1..2; bare `term~` means 2): expanded
  * against the live dictionary to every same-field term within full
  * Damerau-Levenshtein distance N ([[Fuzzy]]), under the same deterministic
  * sort-and-cap as prefixes. `term~0` parses to [[ExactLit]] directly.
  */
final case class FuzzyLit(key: String, maxEdits: Int) extends TermLit
/** Lucene wildcard query — any `?` or a non-trailing/multiple `*` (`te?t`,
  * `t*st`, `*ing`, `a*b*`): expanded against the live dictionary by glob
  * match ([[Glob]]) under the same deterministic sort-and-cap. The simple
  * trailing-`*` form stays [[PrefixLit]] (pure range pushdown). `key` keeps
  * the wildcard markers, field-qualified like every other key.
  */
final case class WildcardLit(key: String) extends TermLit
/** Lucene term range on an INDEXED field — `text:[aa TO ab]`,
  * `title:{d TO e}`, mixed brackets, `*` = open end (at most one): expanded
  * against the live dictionary to every same-field term within the
  * lexicographic bounds (`[`/`]` inclusive, `{`/`}` exclusive), under the
  * same deterministic sort-and-cap as prefixes. Bounds are lowercased and
  * restricted to the token alphabet `[a-z0-9]` at parse, so both expansion
  * twins compare in plain token space. `fieldPfx` is `""` for text /
  * `"title:"` for title; `key` is the canonical rendering — brackets and
  * spaces cannot appear in term keys or other literal keys, so cache/boost
  * identity cannot collide.
  */
/** edismax qf multi-field term (r5): one unqualified query token searched
  * across several indexed fields with per-field weights
  * (`qf=text^1 title^3`). Resolves to one per-field key PER qf field — a
  * one-of-a-set clause slot exactly like a prefix expansion — and each
  * key's boost is fieldWeight x any user `^boost` on the occurrence. The
  * per-field contributions combine under the edismax `tie` parameter
  * (max + tie x rest; [[ResolvedQuery]] groups document the exact
  * per-term-factor rule all four paths share): tie=0 (default, Solr
  * parity) scores each token by its best field, tie=1 is the plain sum.
  * `key` is the bare token (used for display/protection, never as a
  * postings key).
  */
final case class MultiLit(token: String,
    weighted: Seq[(String, Double)]) extends TermLit {
  def key: String = token
}
final case class TermRangeLit(fieldPfx: String, lo: Option[String],
    hi: Option[String], incLo: Boolean, incHi: Boolean) extends TermLit {
  def key: String = fieldPfx + (if (incLo) "[" else "{") +
    lo.getOrElse("*") + " TO " + hi.getOrElse("*") + (if (incHi) "]" else "}")
}

/** One positional phrase constraint. `slop` is Lucene's edit-distance slop
  * (the `"a b"~N` surface, searchindex.py:98): the phrase matches iff there
  * are distinct positions p_i, one per term, with
  * max(p_i - i) - min(p_i - i) ≤ slop — the total number of single-position
  * token moves needed to align the document with the phrase. slop=0 is the
  * exact consecutive in-order phrase; a transposition of adjacent terms
  * costs 2 (`"b a"~2` matches the text "a b"). In-order matches reduce to
  * span ≤ (len-1) + slop, so slop also reads as "at most N fillers" when
  * order is kept. Full Lucene parity since r5 (the r4 engine required
  * order at every slop); semantics live in ONE place — [[Wand.phraseMatch]].
  */
final case class PhraseQ(terms: Seq[String], slop: Int)

/** One DNF clause of the parsed boolean query: a document matches the clause
  * iff every positive literal is present (a PrefixLit counts as present when
  * ≥1 of its expansion terms is), no negative literal is present, and every
  * phrase matches within its slop window ([[PhraseQ]]). The query matches
  * iff ≥1 clause matches.
  */
final case class BoolClause(pos: Seq[TermLit], neg: Seq[TermLit],
    phrases: Seq[PhraseQ])

/** Parsed query.
  *
  * The reference passes raw Lucene query strings to Solr
  * (`solrc.search(searchstring, rows=…)`, /root/reference/src/searchindex.py:98;
  * fielded `mmd_title:… df=text_en`, /root/reference/src/indexdata.py:1516–1523).
  * Surface (SURVEY.md §2.7 Q2/Q3): bare terms (default OR), AND, OR, NOT,
  * `-term`, `+term`, parentheses, `"phrase"` (positional — consecutive
  * tokens), trailing-`*` prefix terms, `field:term` where field is an indexed
  * text field (`text`, `title`; default overridable via the `df` parameter
  * like Solr's df=) or a stored filter field (`lang`, `url`), and
  * `field:[a TO b]` ranges on stored fields.
  *
  * Boolean model (round 3 — replaces the round-1/2 flat-AND divergence):
  * standard precedence `NOT > AND > adjacency > OR`, parentheses group, and
  * the tree is normalized to a DISJUNCTION OF CONJUNCTIONS (`clauses`). So
  * `a AND b OR c` ≡ `(a AND b) OR c` and `a AND (b OR c)` expands to
  * `(a AND b) OR (a AND c)`. Within one adjacency group Lucene-style occurs
  * prefixes apply: `+x` is required, `-x`/`NOT x` is prohibited, unmarked
  * items are shoulds (≥1 must match unless the group has `+` items).
  *
  * Documented divergences from Lucene's classic parser (which has NO
  * precedence — it mutates pairwise occurs flags, so `a AND b OR c` silently
  * means `+a +b c` there):
  *  - boolean-algebra precedence as above (the fix VERDICT r2 item 2 asked
  *    for);
  *  - scoring: a matching document scores the sum of BM25 contributions of
  *    every DISTINCT positive query term it contains (term-sorted summation
  *    for bit determinism), independent of which clause matched;
  *  - boosts (`term^2`, `"a b"~1^2`, `pre*^0.5`, group `(a b)^2`, round 5):
  *    a term's contribution is multiplied by its boost, folded into idf so
  *    WAND block-max pruning stays exact. A group boost multiplies the
  *    boost of every positive occurrence inside the group (nested groups
  *    compose multiplicatively, as in Lucene). Because scoring is
  *    per-distinct-term, a term occurring with several boosts takes the
  *    MAX of its occurrence boosts (unboosted = 1), a phrase boost applies
  *    to each of the phrase's terms, and a prefix/fuzzy/wildcard boost
  *    applies to every expansion term (Lucene instead scores each
  *    occurrence separately and rewrites multi-term queries
  *    constant-score);
  *  - prefix terms score like ordinary terms per expansion (Lucene rewrites
  *    them constant-score);
  *  - negated phrases are rejected with a parse error (ADVICE r2);
  *  - pure-negative queries/branches (`NOT a`, `a OR NOT b`) are rejected —
  *    they are unscorable;
  *  - stored-field filters (`lang:`/`url:`/ranges) are GLOBAL conjuncts
  *    wherever they appear (Solr fq semantics), never OR-alternatives.
  */
final case class QueryAst(
    scoringLits: Seq[TermLit],
    clauses: Seq[BoolClause],
    langFilter: Option[String],
    urlFilter: Option[String],
    rangeFilters: Seq[RangeFilter],
    boosts: Map[TermLit, Double] = Map.empty,
    matchAll: Boolean = false,
    tie: Double = 0.0) {
  def hasFieldFilter: Boolean =
    langFilter.isDefined || urlFilter.isDefined || rangeFilters.nonEmpty
}

/** Post-parse resolution: prefix literals → concrete term lists. */
final case class ResolvedClause(mustGroups: Seq[Seq[String]],
    notTerms: Seq[String], phrases: Seq[PhraseQ])
/** @param boosts per-term score multipliers ≠ 1 (absent term = 1.0),
  *   prefix literals already expanded; every consumer folds the boost into
  *   idf as `BM25.idf(n, df) * boost` — ONE association order, so all four
  *   physical paths stay bit-identical.
  * @param groups edismax tie groups (r5): postings key → group id > 0 for
  *   keys that score as alternatives of one qf-fanned token ([[MultiLit]]).
  *   Scoring rule, identical in all four paths: per doc, iterate present
  *   scoring terms in TERM-SORTED order; the FIRST member of each group
  *   whose contribution equals the group's max keeps factor 1, every other
  *   member is damped ×tie, ungrouped terms always factor 1; accumulate in
  *   that same order. A key that also scores via any non-MultiLit
  *   occurrence is ungrouped (its factor is pinned at 1, like the implicit
  *   boost 1.0 rule). tie=1 reduces to the plain sum and groups are inert.
  * @param tie edismax tie ∈ [0,1] (Solr default 0 = pure per-token max).
  */
final case class ResolvedQuery(scoringTerms: Seq[String],
    clauses: Seq[ResolvedClause],
    boosts: Map[String, Double] = Map.empty,
    groups: Map[String, Int] = Map.empty,
    tie: Double = 0.0)

object QueryResolve {
  /** Cap on terms a prefix expands to. Both sides of the correctness gate
    * (engine dictionary scan, oracle key scan) take the lexicographically
    * FIRST `MaxPrefixExpansion` matches, so results stay rank-identical by
    * construction. At 10^12 docs this also bounds the per-query cursor count
    * (Lucene's analog is BooleanQuery.maxClauseCount).
    */
  val MaxPrefixExpansion = 512

  /** Dictionary expansion for multi-term literals. Every method returns
    * matching dictionary terms SORTED ascending and capped at
    * [[MaxPrefixExpansion]]; for a bare (text-field) literal the expansion
    * must exclude field-qualified keys (those containing ':'), for a
    * field-qualified one it must stay within that field. [[expanderOf]]
    * states each method once as a [[DictMatch]] rule; [[dictMatch]] and the
    * engine's scan evaluate it.
    */
  trait Expander {
    /** Trailing-`*` prefix: dictionary terms starting with `key`. */
    def prefix(key: String): Seq[String]
    /** Lucene fuzzy: same-field terms whose token is within full
      * Damerau-Levenshtein `maxEdits` of `key`'s token ([[Fuzzy.within]]),
      * including the exact term itself when present.
      */
    def fuzzy(key: String, maxEdits: Int): Seq[String]
    /** Lucene wildcard: same-field terms whose token glob-matches `key`'s
      * pattern part ([[Glob.matches]]).
      */
    def wildcard(key: String): Seq[String]
    /** Lucene term range: same-field terms within the lexicographic bounds
      * (inclusive/exclusive per flag; `None` = open end).
      */
    def range(fieldPfx: String, lo: Option[String], hi: Option[String],
        incLo: Boolean, incHi: Boolean): Seq[String]
  }

  def resolve(ast: QueryAst, expander: Expander): ResolvedQuery = {
    val cache = mutable.HashMap.empty[TermLit, Seq[String]]
    def terms(l: TermLit): Seq[String] = cache.getOrElseUpdate(l, l match {
      case ExactLit(k) => Seq(k)
      case MultiLit(_, ws) => ws.map(_._1)
      case PrefixLit(p) => expander.prefix(p)
      case WildcardLit(p) => expander.wildcard(p)
      case FuzzyLit(k, e) => expander.fuzzy(k, e)
      case r: TermRangeLit =>
        expander.range(r.fieldPfx, r.lo, r.hi, r.incLo, r.incHi)
    })
    val clauses = ast.clauses.flatMap { c =>
      val groups = c.pos.map(terms)
      // a positive prefix matching nothing in the dictionary makes the
      // clause unsatisfiable — drop it (other OR branches may still match)
      if (groups.exists(_.isEmpty)) None
      else Some(ResolvedClause(groups, c.neg.flatMap(terms).distinct,
        c.phrases))
    }
    val scoring = ast.scoringLits.flatMap(terms).distinct.sorted
    // prefix boosts fan out to every expansion term; a term reached with
    // several boosts takes the MAX. "Unboosted occurrence = 1" must hold
    // ACROSS literals too: a bare `w00017` pins that term at ≥1 even when a
    // damping `w0001*^0.5` also expands to it, so every scoring literal
    // without an explicit boost contributes an implicit 1.0 to the max.
    val implicitOnes = ast.scoringLits.filterNot(ast.boosts.contains)
      .iterator.map(_ -> 1.0)
    val boosts = (ast.boosts.iterator ++ implicitOnes)
      .flatMap {
        // qf: per-key boost = field weight x the occurrence's user boost
        case (m: MultiLit, b) => m.weighted.map { case (k, w) => k -> w * b }
        case (l, b) => terms(l).map(_ -> b)
      }.toSeq
      .groupBy(_._1).map { case (t, bs) => t -> bs.map(_._2).max }
      .filter(_._2 != 1.0)
    // tie groups: one group per distinct MultiLit fan-out key set. Keys
    // that also score via any other occurrence (explicit field term,
    // prefix/fuzzy/wildcard/range expansion) are ungrouped — their factor
    // is pinned at 1 everywhere, so the group keeps only private members;
    // groups reduced below 2 members are inert and dropped. Group ids are
    // assigned in sorted-key-set order (deterministic across paths).
    val ungroupedKeys: Set[String] = ast.scoringLits.iterator
      .filterNot(_.isInstanceOf[MultiLit]).flatMap(terms).toSet
    val groups: Map[String, Int] = ast.scoringLits
      .collect { case m: MultiLit =>
        m.weighted.map(_._1).filterNot(ungroupedKeys).sorted }
      .filter(_.size >= 2).distinct.sortBy(_.mkString("\u0000"))
      .zipWithIndex
      .flatMap { case (ks, i) => ks.map(_ -> (i + 1)) }.toMap
    ResolvedQuery(scoring, clauses, boosts, groups, ast.tie)
  }

  /** One dictionary-expansion rule. A dictionary key matches iff it lies in
    * the field keyspace `fieldPfx` (`""` = the text field, whose keys carry
    * no ':'; else keys starting with `fieldPfx`) and `accepts` holds for its
    * token part; the matches are taken term-sorted, at most `cap` of them.
    * `lo`/`hi` are `(key, inclusive)` bounds that every match lies within:
    * a pushdown hint for the scan, never part of the definition.
    * `accepts` runs on executors, so it must capture only serializable
    * values.
    */
  final case class DictMatch(fieldPfx: String, accepts: String => Boolean,
      lo: Option[(String, Boolean)], hi: Option[(String, Boolean)], cap: Int)

  /** (field prefix, token part) of a field-qualified key. */
  private def splitKey(key: String): (String, String) = {
    val colon = key.indexOf(':')
    if (colon >= 0) (key.substring(0, colon + 1), key.substring(colon + 1))
    else ("", key)
  }

  /** Trailing-`*` prefix: same-field keys starting with `key`. */
  def prefixMatch(key: String): DictMatch = {
    val (fieldPfx, tok) = splitKey(key)
    DictMatch(fieldPfx, _.startsWith(tok), Some((key, true)),
      Some((key + "\uffff", false)), MaxPrefixExpansion)
  }

  /** Lucene `term~N`: same-field tokens within Damerau-Levenshtein
    * `maxEdits` of the key's token. Edits can change the first character,
    * so no key range bounds the matches.
    */
  def fuzzyMatch(key: String, maxEdits: Int): DictMatch = {
    val (fieldPfx, base) = splitKey(key)
    DictMatch(fieldPfx, Fuzzy.within(_, base, maxEdits), None, None,
      MaxPrefixExpansion)
  }

  /** Lucene wildcard: same-field tokens glob-matching the key's pattern.
    * The pattern's literal prefix bounds the matches like a prefix query; a
    * leading-wildcard pattern has none and scans the whole field, the cost
    * Solr documents for its leading wildcards.
    */
  def wildcardMatch(key: String): DictMatch = {
    val (fieldPfx, pat) = splitKey(key)
    val lit = fieldPfx + Glob.literalPrefix(pat)
    val bounded = lit.length > fieldPfx.length
    DictMatch(fieldPfx, Glob.matches(_, pat),
      Option.when(bounded)((lit, true)),
      Option.when(bounded)((lit + "\uffff", false)), MaxPrefixExpansion)
  }

  /** Lucene term range: same-field tokens within the lexicographic bounds;
    * the bounds themselves are the key range.
    */
  def rangeMatch(r: TermRangeLit): DictMatch = {
    val TermRangeLit(fieldPfx, lo, hi, incLo, incHi) = r
    DictMatch(fieldPfx,
      t => lo.forall(v => if (incLo) t >= v else t > v) &&
        hi.forall(v => if (incHi) t <= v else t < v),
      lo.map(v => (fieldPfx + v, incLo)), hi.map(v => (fieldPfx + v, incHi)),
      MaxPrefixExpansion)
  }

  /** Evaluates a rule over an in-memory dictionary (the sequential oracle;
    * tests) from its definition alone: the range hint is not used, so the
    * engine's pushed-down scan is checked against it.
    */
  def dictMatch(dict: Iterable[String], m: DictMatch): Seq[String] =
    dict.iterator
      .filter { k =>
        (if (m.fieldPfx.isEmpty) !k.contains(":")
         else k.startsWith(m.fieldPfx)) &&
          m.accepts(k.substring(m.fieldPfx.length))
      }
      .toSeq.sorted.take(m.cap)

  /** The four expansion families as rules, each with its cache key (the
    * literal's own key; fuzzy adds `~N`). `run` evaluates a rule; keys
    * render without evaluating anything, so a cache hit plans nothing.
    */
  def expanderOf(run: (String, DictMatch) => Seq[String]): Expander =
    new Expander {
      def prefix(key: String): Seq[String] = run(key, prefixMatch(key))
      def fuzzy(key: String, maxEdits: Int): Seq[String] =
        run(key + "~" + maxEdits, fuzzyMatch(key, maxEdits))
      def wildcard(key: String): Seq[String] = run(key, wildcardMatch(key))
      def range(fieldPfx: String, lo: Option[String], hi: Option[String],
          incLo: Boolean, incHi: Boolean): Seq[String] = {
        val r = TermRangeLit(fieldPfx, lo, hi, incLo, incHi)
        run(r.key, rangeMatch(r))
      }
    }

  /** All four expansion rules over one in-memory dictionary. */
  def dictExpander(dict: Iterable[String]): Expander =
    expanderOf((_, m) => dictMatch(dict, m))
}

/** Query-string surgery shared by the spellcheck-collation twins
  * ([[graft.query.QueryEngine.collate]] and the oracle's): replace every
  * standalone occurrence of analyzed token `tok` with `repl`, preserving
  * all surrounding syntax (field prefixes, boosts, operators, parens,
  * quotes). Tokens are lowercase `[a-z0-9]+`, so the boundary is any other
  * character or a string edge; replacement is case-sensitive because the
  * analyzer only ever produces lowercase tokens.
  */
object Spellcheck {
  def replaceToken(q: String, tok: String, repl: String): String =
    ("(?<![a-z0-9])" + java.util.regex.Pattern.quote(tok) + "(?![a-z0-9])").r
      .replaceAllIn(q, java.util.regex.Matcher.quoteReplacement(repl))

  /** Tokens [[replaceToken]] must NOT be allowed to touch: replacement is
    * plain string surgery over every standalone occurrence, so a missing
    * exact term whose token ALSO appears anywhere else in the query —
    * inside a phrase, a prefix/fuzzy/wildcard/range literal, a negative
    * literal, or a stored-field filter value — cannot be rewritten without
    * corrupting that other occurrence. Both collation twins bail out (no
    * collation) when a missing token is protected; present exact keys are
    * the caller's side of the rule (presence is checked engine- vs
    * oracle-side), so they are NOT collected here.
    */
  def protectedTokens(ast: QueryAst): Set[String] = {
    val b = Set.newBuilder[String]
    def add(s: String): Unit = b ++= Analysis.tokenize(s)
    ast.scoringLits.foreach {
      case ExactLit(_) => // the collation candidates themselves
      case l           => add(l.key)
    }
    ast.clauses.foreach { c =>
      c.neg.foreach(l => add(l.key))
      c.phrases.foreach(_.terms.foreach(add))
    }
    ast.langFilter.foreach(add)
    ast.urlFilter.foreach(add)
    ast.rangeFilters.foreach { r =>
      r.lo.foreach(add); r.hi.foreach(add)
    }
    b.result()
  }
}

object QueryParser {

  /** Stored filter fields (docs-table predicates, not scored index terms). */
  val FilterFields: Set[String] = Set("lang", "url", "warc_ts")

  /** Indexed (scored) fields; `df=` must name one of these. */
  val IndexedFields: Set[String] = Set("text", "title")

  /** Max DNF clauses a query may expand to (parens × AND distribution). */
  val MaxClauses = 64

  private[query] def termKey(field: String, token: String): String =
    if (field == "text") token else s"$field:$token"

  /** Parse the numeric literal of a `^boost` suffix; loud on anything that
    * is not a plain non-negative decimal (`2`, `0.5`, `3.`).
    */
  private def parseBoostLiteral(lit: String, ctx: String): Double = {
    require(lit.nonEmpty && lit.count(_ == '.') <= 1 &&
      lit.forall(c => c.isDigit || c == '.') && lit.exists(_.isDigit),
      s"malformed boost '^$lit' on $ctx (expected ^<number>)")
    lit.toDouble
  }

  /** Split a bare term's trailing `^boost` off (`jakarta^4` → (jakarta, 4)).
    * A '^' anywhere else in the word stays in the base and is rejected by
    * [[P.rejectUnsupported]].
    */
  private def splitBoost(v: String): (String, Double) = {
    val ix = v.lastIndexOf('^')
    if (ix <= 0) (v, 1.0) // no '^', or a leading '^' (malformed — loud later)
    else {
      val base = v.substring(0, ix)
      if (base.contains("^")) (v, 1.0) // a^2^3 — reject whole, loud later
      else (base, parseBoostLiteral(v.substring(ix + 1), s"'$v'"))
    }
  }

  /** Strips a trailing Lucene fuzzy marker: `term~` (maxEdits 2), `term~N`
    * with N ∈ 0..2. Runs AFTER [[splitBoost]] (Lucene order: `term~1^2`).
    * Any other use of '~' on an indexed term is malformed and rejected HERE,
    * loudly — classic float similarity (`term~0.8`) included, matching
    * modern Lucene which dropped it.
    */
  private def splitFuzzy(v: String): (String, Option[Int]) = {
    val ix = v.lastIndexOf('~')
    if (ix < 0) (v, None)
    else {
      def bad(what: String): Nothing = throw new IllegalArgumentException(
        s"unsupported fuzzy syntax in '$v': $what")
      if (ix == 0) bad("'~' must follow a term")
      val base = v.substring(0, ix)
      if (base.contains("~")) bad("multiple '~' markers")
      val suffix = v.substring(ix + 1)
      val edits =
        if (suffix.isEmpty) 2
        else if (suffix.forall(_.isDigit)) suffix.toInt
        else bad("maxEdits must be an integer 0..2 " +
          "(classic float similarity is unsupported)")
      if (edits > Fuzzy.MaxSupportedEdits)
        bad(s"maxEdits $edits exceeds the Lucene cap of " +
          s"${Fuzzy.MaxSupportedEdits}")
      (base, Some(edits))
    }
  }

  // ------------------------------------------------------------------ lexer

  private sealed trait Tok
  private case object AndTok extends Tok
  private case object OrTok extends Tok
  private case object NotTok extends Tok
  private case object PlusTok extends Tok
  /** `(` — `field` is set for a Lucene field-grouped `field:(...)` open. */
  private final case class LParen(field: Option[String] = None) extends Tok
  /** `)` — `boost` ≠ 1 for a Lucene group boost `(...)^B`. */
  private final case class RParen(boost: Double = 1.0) extends Tok
  private final case class TermTok(field: Option[String], value: String,
      phrase: Boolean, slop: Int = 0, boost: Double = 1.0) extends Tok
  private final case class RangeTok(field: Option[String], lo: Option[String],
      hi: Option[String], incLo: Boolean = true, incHi: Boolean = true,
      boost: Double = 1.0) extends Tok

  private def lex(q: String): Vector[Tok] = {
    val toks = Vector.newBuilder[Tok]
    var i = 0
    val s = q.trim
    while (i < s.length) {
      s.charAt(i) match {
        case c if c.isWhitespace => i += 1
        case '(' => toks += LParen(None); i += 1
        case ')' =>
          i += 1
          // optional group boost `(...)^B` (Lucene classic)
          var gBoost = 1.0
          if (i < s.length && s.charAt(i) == '^') {
            var j = i + 1
            while (j < s.length &&
              (s.charAt(j).isDigit || s.charAt(j) == '.')) j += 1
            gBoost = parseBoostLiteral(s.substring(i + 1, j), "group ')'")
            require(j >= s.length || s.charAt(j).isWhitespace ||
              s.charAt(j) == ')',
              "malformed boost after group ')'")
            i = j
          }
          toks += RParen(gBoost)
        case _ =>
          if (s.charAt(i) == '-') { toks += NotTok; i += 1 }
          else if (s.charAt(i) == '+') { toks += PlusTok; i += 1 }
          else {
            // optional field prefix
            var field: Option[String] = None
            val colon = s.indexOf(':', i)
            if (colon > i && s.charAt(i) != '"' &&
                s.substring(i, colon).forall(c => c.isLetterOrDigit || c == '_') &&
                colon + 1 < s.length && !s.charAt(colon + 1).isWhitespace) {
              field = Some(s.substring(i, colon).toLowerCase)
              i = colon + 1
            }
            if (i < s.length && s.charAt(i) == '"') {
              val end = s.indexOf('"', i + 1)
              val stop = if (end < 0) s.length else end
              val body = s.substring(i + 1, stop)
              i = if (end < 0) s.length else end + 1
              // phrase slop suffix `"..."~N`, then optional boost `^B`
              // (Lucene classic order: "a b"~2^3)
              var slop = 0
              if (i < s.length && s.charAt(i) == '~') {
                var j = i + 1
                while (j < s.length && s.charAt(j).isDigit) j += 1
                require(j > i + 1,
                  "phrase slop requires an integer: \"...\"~N")
                slop = s.substring(i + 1, j).toInt
                i = j
              }
              var boost = 1.0
              if (i < s.length && s.charAt(i) == '^') {
                var j = i + 1
                while (j < s.length &&
                  (s.charAt(j).isDigit || s.charAt(j) == '.')) j += 1
                boost = parseBoostLiteral(s.substring(i + 1, j),
                  s"\"$body\"")
                require(j >= s.length || s.charAt(j).isWhitespace ||
                  s.charAt(j) == ')',
                  s"malformed boost after phrase \"$body\"")
                i = j
              }
              toks += TermTok(field, body, phrase = true, slop, boost)
            } else if (i < s.length &&
                (s.charAt(i) == '[' || s.charAt(i) == '{')) {
              // range literal: [lo TO hi] inclusive, {lo TO hi} exclusive,
              // mixed brackets allowed (Lucene classic)
              val incLo = s.charAt(i) == '['
              val endIncl = s.indexOf(']', i + 1)
              val endExcl = s.indexOf('}', i + 1)
              val end = (endIncl, endExcl) match {
                case (-1, e) => e
                case (e, -1) => e
                case (a, b)  => math.min(a, b)
              }
              // reject-loudly (review r5): the old parse tolerated an
              // unclosed range as inclusive; with exclusive `}` closers an
              // unclosed `[` would now SILENTLY flip to exclusive-hi instead
              require(end >= 0,
                s"unclosed range literal '${s.substring(i)}' — expected " +
                  "']' or '}'")
              val incHi = s.charAt(end) == ']'
              val body = s.substring(i + 1, end)
              i = end + 1
              val parts = body.split("(?i)\\s+TO\\s+")
              require(parts.length == 2,
                s"malformed range '[$body]' (expected '[lo TO hi]')")
              def bound(v: String): Option[String] = {
                val t = v.trim
                if (t == "*" || t.isEmpty) None else Some(t)
              }
              // optional boost `field:[a TO b]^2` (same grammar as terms)
              var boost = 1.0
              if (i < s.length && s.charAt(i) == '^') {
                var j = i + 1
                while (j < s.length &&
                  (s.charAt(j).isDigit || s.charAt(j) == '.')) j += 1
                boost = parseBoostLiteral(s.substring(i + 1, j), s"[$body]")
                require(j >= s.length || s.charAt(j).isWhitespace ||
                  s.charAt(j) == ')',
                  s"malformed boost after range [$body]")
                i = j
              }
              toks += RangeTok(field, bound(parts(0)), bound(parts(1)),
                incLo, incHi, boost)
            } else {
              var j = i
              while (j < s.length && !s.charAt(j).isWhitespace &&
                s.charAt(j) != '(' && s.charAt(j) != ')') j += 1
              val w = s.substring(i, j)
              i = j
              w match {
                case "AND" => toks += AndTok
                case "OR"  => toks += OrTok
                case "NOT" => toks += NotTok
                case _ if w.nonEmpty =>
                  toks += TermTok(field, w, phrase = false)
                case _ =>
                  // empty word after a field prefix: `field:(...)` is a
                  // Lucene field-grouped query (r5 — used to reject); the
                  // field scopes every unqualified term of the group.
                  // Anything else (e.g. `title:)`) is malformed — loud.
                  if (field.isDefined && i < s.length && s.charAt(i) == '(') {
                    toks += LParen(field); i += 1
                  } else require(field.isEmpty,
                    s"malformed field prefix '${field.get}:' — expected a " +
                      "term, phrase, range, or group after ':'")
              }
            }
          }
      }
    }
    toks.result()
  }

  // ------------------------------------------------------- formula tree

  private sealed trait N
  private final case class NTerm(l: TermLit) extends N
  private final case class NPhrase(ts: Seq[String], slop: Int) extends N
  private final case class NAnd(cs: Seq[N]) extends N
  private final case class NOr(cs: Seq[N]) extends N
  private final case class NNot(c: N) extends N
  /** A should-item of a group that has `+` items: contributes scoring terms
    * but no match constraint (Lucene minimumShouldMatch=0 semantics).
    */
  private final case class NShould(c: N) extends N
  private case object NTrue extends N
  private case object NFalse extends N

  // ---------------------------------------------------------------- parser

  /** @param defaultField the indexed field untargeted terms go to — Solr's
    *   df= parameter (reference: df='text_en' at indexdata.py:1519).
    *   Unknown `field:` prefixes also fall back to it (Solr
    *   schemaless-style leniency), while the stored filter fields
    *   (lang/url/warc_ts) become docs-table predicates.
    */
  /** @param defaultOp Solr's `q.op=` — the implicit operator between
    *   adjacent items ("OR"/"AND"). Under OR (the Solr/Lucene default and
    *   ours) adjacency makes SHOULD items; under AND every adjacent item is
    *   required (Lucene `+a +b`). Explicit `OR`/`AND`/`NOT`/`+` are
    *   unaffected, and because this parser has real boolean precedence the
    *   rule composes cleanly: `a b OR c` under AND = `(a AND b) OR c`
    *   (Lucene's flat parser instead mutates pairwise flags — documented
    *   divergence above). One parse flag, so all four physical paths and
    *   the sequential oracle change together.
    */
  def parse(q: String, defaultField: String = "text",
      defaultOp: String = "OR",
      qf: Seq[(String, Double)] = Nil,
      tie: Double = 0.0): QueryAst = {
    require(IndexedFields.contains(defaultField),
      s"df='$defaultField': indexed fields are ${IndexedFields.mkString(", ")}")
    require(defaultOp == "OR" || defaultOp == "AND",
      s"q.op must be OR or AND, got '$defaultOp'")
    require(qf.forall { case (f, w) => IndexedFields.contains(f) && w > 0 },
      s"qf fields must be indexed (${IndexedFields.mkString(", ")}) with " +
        s"positive weights, got $qf")
    require(qf.map(_._1).distinct.size == qf.size,
      s"qf lists a field twice: $qf")
    // edismax tie: 0 = per-token max over the qf fields (Solr default),
    // 1 = plain sum; anything between damps the non-max fields
    require(tie >= 0.0 && tie <= 1.0, s"tie must be in [0,1], got $tie")
    // Solr match-all (`q=*:*`): every live document matches with constant
    // score 1.0, ranked by docId — the canonical Solr idiom for fq-only
    // queries, whole-corpus facets/stats, and delete-everything
    // (searchindex.py's search-then-delete with a catch-all string is the
    // reference analog). Supported ONLY as the entire query: `*:*` has no
    // per-doc score, so mixing it into a boolean tree would make branch
    // scores incomparable — combine constraints via fq instead.
    if (q.trim == "*:*")
      return QueryAst(Nil, Nil, None, None, Nil, Map.empty, matchAll = true)
    require(!q.contains("*:*"),
      "*:* is supported only as the entire query (Solr match-all); " +
        "add constraints as fq filter queries instead")
    new P(lex(q), defaultField, defaultOp == "AND", qf).run().copy(tie = tie)
  }

  private final class P(toks: Vector[Tok], defaultField: String,
      andDefault: Boolean = false,
      qf: Seq[(String, Double)] = Nil) {
    private var i = 0
    private var lang: Option[String] = None
    private var url: Option[String] = None
    private val ranges = mutable.ListBuffer.empty[RangeFilter]
    /** Innermost `field:(...)` group scope — unqualified terms inside the
      * group resolve to it instead of defaultField; nested plain `(...)`
      * inherit it (saved/restored around each group parse).
      */
    private var fieldScope: Option[String] = None
    // per-OCCURRENCE boost registrations, reduced to per-distinct-literal
    // MAX in run() (unboosted occurrence = 1; scoring is per-distinct-term,
    // so there is no per-occurrence contribution to keep). Occurrences —
    // not a literal-keyed map — because a group boost `(...)^B` multiplies
    // exactly the occurrences INSIDE the group (Lucene nesting:
    // `(a^2 b)^3` → a×6, b×3), which a flat map cannot express: every
    // parse-time registration of 1.0 would clamp a damping group `(...)
    // ^0.5` back up under the MAX rule.
    private val boostRegs = mutable.ArrayBuffer.empty[(TermLit, Double)]

    private def boosted(l: TermLit, b: Double): TermLit = {
      boostRegs += ((l, b))
      l
    }

    private def peek: Option[Tok] = if (i < toks.length) Some(toks(i)) else None

    def run(): QueryAst = {
      val formula = parseOrList(depth = 0)
      // reject-loudly: a stray top-level ')' used to stop the parse and
      // silently DROP everything after it ("a) OR b" ran as just "a")
      require(i == toks.length,
        s"unconsumed query input at token ${i + 1} of ${toks.length} " +
          "(unbalanced ')'?)")
      val scoring = mutable.LinkedHashSet.empty[TermLit]
      collectScoring(formula, pos = true, scoring)
      val clauses = dnf(nnf(formula, pos = true))
      val nonEmpty = clauses.distinct.filter(c =>
        c.pos.nonEmpty || c.phrases.nonEmpty || c.neg.nonEmpty)
      nonEmpty.foreach { c =>
        if (c.pos.isEmpty && c.phrases.isEmpty)
          throw new IllegalArgumentException(
            "pure-negative query branch is unscorable (every OR-branch " +
              "needs at least one positive term)")
      }
      val boosts = boostRegs.groupBy(_._1)
        .map { case (l, rs) => l -> rs.map(_._2).max }
        .filter(_._2 != 1.0)
      QueryAst(scoring.toSeq, nonEmpty, lang, url, ranges.toSeq, boosts)
    }

    /** orList := seq (OR seq)* */
    private def parseOrList(depth: Int): N = {
      val alts = Seq.newBuilder[N]
      var n = 0
      var more = true
      while (more) {
        alts += parseSeq(depth)
        n += 1
        if (peek.contains(OrTok)) i += 1 else more = false
      }
      val as = alts.result().filterNot(_ == NTrue)
      if (as.isEmpty) NTrue else if (as.length == 1) as.head else NOr(as)
    }

    /** seq := seqItem+ — one Lucene-style group: `+` items MUST, negated
      * items MUST_NOT, the rest SHOULD (≥1 required iff no MUST items).
      */
    private def parseSeq(depth: Int): N = {
      val items = Seq.newBuilder[(N, Boolean)]
      var more = true
      while (more) {
        peek match {
          case None | Some(OrTok) | Some(_: RParen) => more = false
          case _ => parseSeqItem(depth).foreach(items += _)
        }
      }
      val all = items.result()
      val nots = all.collect { case (n @ NNot(_), _) => n }
      // q.op=AND: every adjacent non-negated item is required (Lucene
      // `+a +b`); the `+` flag is then redundant but harmless
      val musts = all.collect {
        case (n, p) if (p || andDefault) && !n.isInstanceOf[NNot] => n
      }
      val shoulds = all.collect {
        case (n, false) if !andDefault && !n.isInstanceOf[NNot] => n
      }
      if (musts.isEmpty && shoulds.isEmpty && nots.nonEmpty)
        throw new IllegalArgumentException(
          "pure-negative group is unscorable (add a positive term)")
      if (musts.isEmpty && shoulds.isEmpty) NTrue
      else if (musts.isEmpty) {
        val disj = if (shoulds.length == 1) shoulds.head else NOr(shoulds)
        if (nots.isEmpty) disj else NAnd(nots :+ disj)
      } else NAnd(musts ++ nots ++ shoulds.map(NShould))
    }

    /** seqItem := prefixed (AND prefixed)* — AND binds tighter than
      * adjacency. Returns None for filter tokens (pulled out globally).
      * The item is a MUST if ANY operand of the AND chain carries `+`
      * (ADVICE r3: taking only the first operand's flag silently demoted
      * `a AND +b` to a should-alternative).
      */
    private def parseSeqItem(depth: Int): Option[(N, Boolean)] = {
      var anyPlus = false
      var chain: Option[scala.collection.mutable.Builder[N, Seq[N]]] = None
      def add(r: Option[(N, Boolean)]): Unit = r.foreach { case (n, p) =>
        anyPlus ||= p
        chain match {
          case Some(b) => b += n
          case None    => chain = Some(Seq.newBuilder[N] += n)
        }
      }
      add(parsePrefixed(depth))
      while (peek.contains(AndTok)) {
        i += 1
        // a filter operand (e.g. `a AND lang:no`) adds no chain node
        add(parsePrefixed(depth))
      }
      chain.map { b =>
        val cs = b.result()
        (if (cs.length == 1) cs.head else NAnd(cs), anyPlus)
      }
    }

    /** prefixed := (NOT | '-' | '+')* unit */
    private def parsePrefixed(depth: Int): Option[(N, Boolean)] = {
      var neg = false
      var plus = false
      var scanning = true
      while (scanning) {
        peek match {
          // toggle, not set: under the documented boolean algebra
          // "NOT NOT a" is a — latching true silently evaluated it as -a
          case Some(NotTok)  => neg = !neg; i += 1
          case Some(PlusTok) => plus = true; i += 1
          case _             => scanning = false
        }
      }
      var filterCaptured = false
      // global filter state BEFORE the unit parse: a filter captured inside
      // a negated parenthesized group (`-(lang:en a)`) registers in the
      // parser-level lang/url/ranges, not in this frame's filterCaptured —
      // diffing the state across the parse catches it at any nesting depth
      val langBefore = lang
      val urlBefore = url
      val nRangesBefore = ranges.size
      val unit: Option[N] = peek match {
        case Some(LParen(groupField)) =>
          i += 1
          require(depth < 16, "query nesting too deep")
          // Lucene field grouping `title:(a b)`: the field scopes every
          // unqualified term inside (an explicit field still wins). Only
          // indexed fields group — a grouped FILTER field (`lang:(en no)`)
          // would silently collapse to last-wins on the single-valued
          // global filter, the exact inversion of the OR the user wrote.
          groupField.foreach { f =>
            require(IndexedFields.contains(f),
              s"field-grouped query '$f:(...)' supports only indexed " +
                s"fields (${IndexedFields.mkString(", ")}) — filter " +
                "fields are global single-valued conjuncts")
          }
          val savedScope = fieldScope
          if (groupField.isDefined) fieldScope = groupField
          val regsAtOpen = boostRegs.length
          val inner = parseOrList(depth + 1)
          fieldScope = savedScope
          val gBoost = peek match {
            case Some(RParen(b)) => i += 1; b
            case _               => 1.0 // tolerate unclosed at end
          }
          if (gBoost != 1.0) {
            // group boost `(...)^B` MULTIPLIES the boost of every positive
            // scoring occurrence inside the group (Lucene nesting:
            // `(a^2 b)^3` → a×6, b×3; nested groups compose because the
            // inner close already multiplied its own slice). NOT-side
            // occurrences never score and keep their registration as-is.
            // Across occurrences of one literal the per-distinct-term MAX
            // still reduces at run().
            val lits = mutable.LinkedHashSet.empty[TermLit]
            collectScoring(inner, pos = true, lits)
            var r = regsAtOpen
            while (r < boostRegs.length) {
              val (l, b) = boostRegs(r)
              if (lits.contains(l)) boostRegs(r) = (l, b * gBoost)
              r += 1
            }
          }
          Some(inner)
        case Some(t: TermTok) =>
          i += 1
          val n = termNode(t)
          if (n.isEmpty && t.field.exists(f => f == "lang" || f == "url"))
            filterCaptured = true
          n
        case Some(r: RangeTok) =>
          i += 1
          // an unqualified range inherits the enclosing field-group scope
          // (`title:([a TO b])`), same rule as terms
          r.field.orElse(fieldScope) match {
            case Some(f) if IndexedFields.contains(f) =>
              // Lucene term range on an indexed field: a multi-term literal
              // like prefix/fuzzy/wildcard — capped dictionary expansion
              def tok(v: String): String = {
                val t = v.toLowerCase
                require(t.nonEmpty && t.forall(c =>
                  (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')),
                  s"term-range bound '$v' must be a single [a-z0-9] token")
                t
              }
              val lo = r.lo.map(tok)
              val hi = r.hi.map(tok)
              require(lo.isDefined || hi.isDefined,
                s"term range on '$f' needs at least one bound — " +
                  "[* TO *] (match-everything) is unsupported")
              val pfx = if (f == "text") "" else f + ":" // termKey's rule
              Some(NTerm(boosted(
                TermRangeLit(pfx, lo, hi, r.incLo, r.incHi), r.boost)))
            case Some(f) if FilterFields.contains(f) =>
              if (f == "warc_ts") {
                // validate bounds NOW so the engine and the oracle accept
                // the same literal grammar (ADVICE r2: a malformed bound
                // must fail fast, not become a silent null predicate)
                (r.lo ++ r.hi).foreach { v =>
                  try java.time.Instant.parse(v)
                  catch {
                    case _: java.time.format.DateTimeParseException =>
                      throw new IllegalArgumentException(
                        s"warc_ts range bound '$v' is not an ISO-8601 instant")
                  }
                }
              }
              require(r.boost == 1.0,
                s"boost on a stored-field filter range ($f) is meaningless " +
                  "— filters never score")
              ranges += RangeFilter(f, r.lo, r.hi, r.incLo, r.incHi)
              filterCaptured = true
              None
            case Some(f) =>
              throw new IllegalArgumentException(
                s"range on '$f' unsupported (indexed: " +
                  s"${IndexedFields.mkString(", ")}; stored: " +
                  s"${FilterFields.mkString(", ")})")
            case None =>
              throw new IllegalArgumentException(
                "range literal requires a field prefix (field:[lo TO hi])")
          }
        case Some(AndTok) | Some(OrTok) => i += 1; None // dangling operator
        case Some(_: RParen) | None => None
        case Some(NotTok) | Some(PlusTok) => None // unreachable
      }
      // reject-loudly: "-lang:en" used to DROP the '-' and filter TO
      // lang=en — the exact inversion of the request. Stored-field filters
      // are global conjuncts with no negative form; '+' is a harmless
      // restatement of that must-semantics and stays allowed.
      if (neg && (filterCaptured || lang != langBefore || url != urlBefore ||
          ranges.size != nRangesBefore))
        throw new IllegalArgumentException(
          "negated stored-field filter (-lang:/-url:/NOT field:[..], " +
            "including inside a negated group) is unsupported — filters " +
            "always apply positively and globally")
      unit.map(n => (if (neg) NNot(n) else n, plus && !neg))
    }

    /** A lexed term: filter-field capture, indexed-field key qualification,
      * analysis, phrase/prefix forms.
      */
    private def termNode(t: TermTok): Option[N] = {
      // an explicit per-term field always beats the enclosing group scope
      // (Lucene: `title:(a text:b)` scopes only `a` to title)
      t.field.orElse(fieldScope) match {
        case Some("lang") if t.field.isDefined =>
          lang = Some(t.value.toLowerCase); None
        case Some("url") if t.field.isDefined => url = Some(t.value); None
        case other =>
          val field = other match {
            case Some(f) if IndexedFields.contains(f) => f
            case _ => defaultField // incl. unknown-field leniency
          }
          if (t.phrase) {
            val ts = Analysis.tokenize(t.value).toSeq.map(termKey(field, _))
            // a phrase boost weights each of the phrase's terms (documented
            // divergence: Lucene boosts the phrase clause's own score)
            ts.foreach(k => boosted(ExactLit(k), t.boost))
            if (ts.isEmpty) None
            else if (ts.length == 1) Some(NTerm(ExactLit(ts.head)))
            else Some(NPhrase(ts, t.slop))
          } else {
            val (afterBoost, boost) = splitBoost(t.value)
            val (bare, fuzzy) = splitFuzzy(afterBoost)
            rejectUnsupported(bare)
            val hasWildcard = bare.exists(c => c == '*' || c == '?')
            if (hasWildcard && fuzzy.isDefined)
              throw new IllegalArgumentException(
                s"cannot combine fuzzy ~ with wildcards in '${t.value}'")
            if (hasWildcard && bare.count(_ == '*') == 1 &&
                bare.endsWith("*") && !bare.contains("?")) {
              // simple trailing-* prefix: its own literal (range pushdown)
              val base = Analysis.tokenize(bare.dropRight(1))
              require(base.length == 1,
                s"wildcard term '$bare' must be a single trailing-* prefix")
              Some(NTerm(boosted(PrefixLit(termKey(field, base(0))), boost)))
            } else if (hasWildcard) {
              // general glob: lowercase like the analyzer, but the markers
              // bypass tokenization — validate the alphabet by hand
              val pat = bare.toLowerCase
              require(pat.forall(c => c == '*' || c == '?' ||
                (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')),
                s"wildcard pattern '$bare' may contain only [a-z0-9], * and ?")
              require(pat.exists(c => c != '*' && c != '?'),
                s"wildcard pattern '$bare' has no literal characters — a " +
                  "match-everything term query is unsupported")
              Some(NTerm(boosted(WildcardLit(termKey(field, pat)), boost)))
            } else if (fuzzy.isDefined) {
              val base = Analysis.tokenize(bare)
              require(base.length == 1,
                s"fuzzy term '${t.value}' must analyze to a single token")
              val key = termKey(field, base(0))
              // maxEdits 0 is an exact term query (Lucene parity)
              val lit =
                if (fuzzy.get == 0) ExactLit(key) else FuzzyLit(key, fuzzy.get)
              Some(NTerm(boosted(lit, boost)))
            } else {
              // edismax qf: an UNQUALIFIED plain term fans out across the
              // qf fields (explicit field or group scope wins, like Solr;
              // prefix/fuzzy/wildcard/phrase stay on the resolved field)
              val mk: String => TermLit =
                if (qf.nonEmpty && t.field.isEmpty && fieldScope.isEmpty)
                  tok => MultiLit(tok,
                    qf.map { case (f, w) => (termKey(f, tok), w) })
                else tok => ExactLit(termKey(field, tok))
              val ts = Analysis.tokenize(bare).toSeq
              if (ts.isEmpty) None
              else if (ts.length == 1)
                Some(NTerm(boosted(mk(ts.head), boost)))
              else Some(NOr(ts.map(k => // multi-token value
                NTerm(boosted(mk(k), boost)))))
            }
          }
      }
    }

    /** Malformed multi-term markers fail loudly instead of tokenizing away
      * into a silently-different query (VERDICT r3 item 5). The WELL-FORMED
      * surface is all implemented as of r5 (prefix, wildcard, fuzzy, boost);
      * this guards what remains — misplaced `^`/`~`. Applies only to
      * indexed-field bare terms: url/lang filter values keep their raw
      * characters, and quoted phrases are analyzed verbatim.
      */
    private def rejectUnsupported(v: String): Unit = {
      def bad(what: String): Nothing = throw new IllegalArgumentException(
        s"unsupported query syntax in '$v': $what")
      if (v.contains("^"))
        bad("boost is only supported as a single trailing ^<number>")
      // splitFuzzy already peeled a well-formed trailing `~`/`~N`; anything
      // still here is a non-trailing or repeated marker
      if (v.contains("~")) bad("'~' is only supported as a single trailing " +
        "fuzzy marker (term~ / term~N, N ≤ 2)")
      // '*' and '?' are handled by the prefix/wildcard branches of termNode
      // (r5 — WildcardLit); malformed patterns reject there with their own
      // messages
    }

    // ------------------------------------------------- normalization

    private def collectScoring(n: N, pos: Boolean,
        out: mutable.LinkedHashSet[TermLit]): Unit = n match {
      case NTerm(l)       => if (pos) out += l
      case NPhrase(ts, _) => if (pos) out ++= ts.map(ExactLit)
      case NAnd(cs)    => cs.foreach(collectScoring(_, pos, out))
      case NOr(cs)     => cs.foreach(collectScoring(_, pos, out))
      case NNot(c)     => collectScoring(c, !pos, out)
      case NShould(c)  => collectScoring(c, pos, out)
      case NTrue | NFalse =>
    }

    /** Negation normal form; NShould ≡ TRUE for matching (scoring already
      * collected), so Not(NShould) ≡ FALSE.
      */
    private def nnf(n: N, pos: Boolean): N = n match {
      case NTerm(_) => if (pos) n else NNot(n)
      case NPhrase(_, _) =>
        if (pos) n
        else throw new IllegalArgumentException(
          "negated phrases are unsupported (v1: negate the terms instead)")
      case NNot(c)    => nnf(c, !pos)
      case NAnd(cs)   => if (pos) NAnd(cs.map(nnf(_, pos))) else NOr(cs.map(nnf(_, pos)))
      case NOr(cs)    => if (pos) NOr(cs.map(nnf(_, pos))) else NAnd(cs.map(nnf(_, pos)))
      case NShould(_) => if (pos) NTrue else NFalse
      case NTrue      => if (pos) NTrue else NFalse
      case NFalse     => if (pos) NFalse else NTrue
    }

    private def merge(a: BoolClause, b: BoolClause): BoolClause =
      BoolClause((a.pos ++ b.pos).distinct, (a.neg ++ b.neg).distinct,
        (a.phrases ++ b.phrases).distinct)

    /** NNF → disjunction of conjunctive clauses (capped). */
    private def dnf(n: N): Seq[BoolClause] = n match {
      case NTrue  => Seq(BoolClause(Nil, Nil, Nil))
      case NFalse => Seq.empty
      case NTerm(l) => Seq(BoolClause(Seq(l), Nil, Nil))
      case NNot(NTerm(l)) => Seq(BoolClause(Nil, Seq(l), Nil))
      case NPhrase(ts, slop) =>
        // phrase terms are positive literals too (must all be present)
        Seq(BoolClause(ts.map(ExactLit), Nil, Seq(PhraseQ(ts, slop))))
      case NOr(cs) =>
        val out = cs.flatMap(dnf)
        require(out.length <= MaxClauses,
          s"query expands to more than $MaxClauses clauses")
        out
      case NAnd(cs) =>
        cs.map(dnf).reduceLeft { (acc, next) =>
          val out = for (a <- acc; b <- next) yield merge(a, b)
          require(out.length <= MaxClauses,
            s"query expands to more than $MaxClauses clauses")
          out
        }
      case other => throw new IllegalStateException(s"not in NNF: $other")
    }
  }
}
