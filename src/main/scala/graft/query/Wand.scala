package graft.query

import scala.collection.mutable

import graft.index.{PostingSegment, TermCursor, BM25}

/** Block-max WAND top-k over one docId window [lo, hi) — the from-scratch
  * replacement for Lucene's BMW collector that the reference's
  * `solrc.search(q, rows=…)` implies (/root/reference/src/searchindex.py:98).
  * Runs inside one executor task; the distributed query plan slices the docId
  * space into disjoint windows and merges the per-window top-k globally
  * (disjoint windows ⇒ the merge is exact).
  *
  * Matching is clause-based (round 3): the parsed query arrives as a
  * disjunction of conjunctive clauses ([[ResolvedClause]]); a doc matches if
  * ≥1 clause is satisfied. Every clause's positive terms are scoring terms,
  * so the disjunctive driver over the scoring cursors enumerates a superset
  * of all possible matches, and the block-max threshold pruning stays exact
  * (a doc's score ≤ the sum of its scoring-term upper bounds).
  *
  * Determinism: per-doc scores sum the per-term contributions in term-sorted
  * order, so results are bit-identical across parallelism levels. Tiebreak is
  * (-score, docId) everywhere.
  */
object Wand {

  final case class Scored(docId: Long, score: Double)

  /** Serializable per-term avgdl lookup (the title field has its own average
    * document length; see IndexTables.CorpusStats).
    */
  final case class FieldAvgdl(text: Double, title: Double)
      extends (String => Double) with Serializable {
    def apply(term: String): Double =
      if (term.startsWith("title:")) title else text
  }

  /** Bounded top-k: worst element at head; candidate must STRICTLY beat the
    * head's score to enter a full heap (equal score loses on docId because
    * iteration within a window is docId-ascending and the merge re-sorts).
    */
  private final class TopKHeap(k: Int) {
    private val ord: Ordering[Scored] =
      Ordering.by[Scored, (Double, Long)](s => (s.score, -s.docId)).reverse
    // PriorityQueue dequeues the MAX by ord; reverse puts the worst on top
    private val pq = mutable.PriorityQueue.empty[Scored](ord)
    def threshold: Double = if (pq.size < k) -1.0 else pq.head.score
    def offer(s: Scored): Unit = {
      if (pq.size < k) pq.enqueue(s)
      else if (s.score > pq.head.score ||
               (s.score == pq.head.score && s.docId < pq.head.docId)) {
        pq.dequeue(); pq.enqueue(s)
      }
    }
    def result(): Array[Scored] = pq.dequeueAll.reverse.toArray
  }

  /** True iff the doc's per-term position lists admit the phrase under
    * Lucene's sloppy-phrase (edit-distance) semantics: exist pairwise-distinct
    * positions p_0 … p_{m-1} (p_i drawn from term i's list) whose ADJUSTED
    * values a_i = p_i - i satisfy max(a) - min(a) ≤ slop. Intuition: a_i is
    * where the phrase "starts" if term i is in place; the span of starts is
    * the total number of single-position token moves needed to align the doc
    * with the phrase. slop=0 forces all a_i equal — the exact consecutive
    * in-order phrase — and a transposition of adjacent terms costs 2
    * (`"b a"~2` matches the text "a b"), matching Lucene's documented
    * semantics (r5 — replaces the in-order-only window rule; for in-order
    * assignments the two rules coincide, so this strictly ADDS the
    * out-of-order matches that need slop ≥ 2).
    *
    * Distinctness is over raw positions globally: equal terms at two phrase
    * offsets must consume two occurrences ("a a" never matches a single 'a'),
    * and in a real document two DIFFERENT terms never share a position, so
    * the global rule equals Lucene's per-term-occurrence rule on real input.
    *
    * Exactness: any valid assignment has min(a) equal to some adjusted value
    * v present in a list, and lies inside the window [v, v+slop]; for each
    * candidate v the existence of a pairwise-distinct assignment is a tiny
    * bipartite matching (offsets × candidate positions, ≤ m·(slop+1) edges),
    * solved exactly with Kuhn's augmenting paths. Position lists are
    * ascending (codec invariant) — binary search for window bounds.
    */
  def phraseMatch(positionsPerTerm: Seq[Array[Int]], slop: Int = 0): Boolean = {
    if (positionsPerTerm.isEmpty) return true
    if (positionsPerTerm.exists(_.isEmpty)) return false
    val m = positionsPerTerm.length
    if (m == 1) return true
    val lists = positionsPerTerm.toIndexedSeq
    // Zero-allocation fast path: in-order assignments. For strictly
    // increasing p the adjusted span equals (p_{m-1} - p_0) - (m-1), so the
    // greedy smallest-next scan decides the in-order case of the Lucene rule
    // exactly — and it is the common case (every slop-0 match, every
    // "within N words, in order" match). An assignment with ANY inversion
    // (i < j but p_i > p_j) has a_i - a_j = (p_i - p_j) + (j - i) ≥ 2, so
    // slop < 2 needs no out-of-order search at all.
    if (inOrderMatch(lists, slop)) return true
    if (slop < 2) return false
    // Bigram shortcut (the dominant phrase shape, zero allocation): with
    // in-order exhausted, only reversed assignments p1 < p0 remain —
    // adjusted span = p0 - (p1 - 1) ≤ slop, distinctness gives p0 > p1, so
    // the question is: exists x ∈ L0, y ∈ L1 with 1 ≤ x − y ≤ slop − 1.
    if (m == 2) return reversedPairMatch(lists(0), lists(1), slop)
    // Out-of-order fallback (m ≥ 3): candidate window anchors are every
    // adjusted value present in any list (a valid assignment's min(a) is
    // one).
    var total = 0
    var i = 0
    while (i < m) { total += lists(i).length; i += 1 }
    val anchors = new Array[Int](total)
    var n = 0
    i = 0
    while (i < m) {
      val arr = lists(i)
      var j = 0
      while (j < arr.length) { anchors(n) = arr(j) - i; n += 1; j += 1 }
      i += 1
    }
    java.util.Arrays.sort(anchors)
    var a = 0
    while (a < anchors.length) {
      if ((a == 0 || anchors(a) != anchors(a - 1)) &&
          windowAssignable(lists, anchors(a), slop)) return true
      a += 1
    }
    false
  }

  /** The r4 in-order rule: strictly increasing positions in term order with
    * span ≤ (m-1) + slop. Greedy smallest-valid-next per term minimizes the
    * final span for a fixed start, so scanning all starts of the first term
    * is exact. Position lists are ascending (codec invariant).
    */
  private def inOrderMatch(lists: IndexedSeq[Array[Int]], slop: Int): Boolean = {
    val m = lists.length
    val first = lists.head
    val maxSpan = (m - 1) + slop
    var i = 0
    while (i < first.length) {
      val p0 = first(i)
      var prev = p0
      var ok = true
      var t = 1
      while (ok && t < m) {
        val arr = lists(t)
        var idx = java.util.Arrays.binarySearch(arr, prev + 1)
        if (idx < 0) idx = -idx - 1 // insertion point = first > prev
        if (idx >= arr.length) ok = false
        else prev = arr(idx)
        t += 1
      }
      if (ok && prev - p0 <= maxSpan) return true
      i += 1
    }
    false
  }

  /** Sorted-merge scan for the reversed bigram: any x ∈ l0, y ∈ l1 with
    * x − y in [1, slop−1]. For a fixed y the difference grows with x, so
    * the classic two-pointer walk is exhaustive: d < 1 means this x can
    * never work (later y only shrink d) — advance x; d > slop−1 means this
    * y is dead for all later x — advance y.
    */
  private def reversedPairMatch(l0: Array[Int], l1: Array[Int],
      slop: Int): Boolean = {
    var i = 0
    var j = 0
    while (i < l0.length && j < l1.length) {
      val d = l0(i) - l1(j)
      if (d < 1) i += 1
      else if (d > slop - 1) j += 1
      else return true
    }
    false
  }

  /** Exists a pairwise-distinct choice p_i ∈ lists(i) with
    * v ≤ p_i - i ≤ v + slop for every i — Kuhn's bipartite matching over
    * the ≤ slop+1 in-window candidates per offset. All scratch state is
    * primitive arrays (CLAUDE.md rule 8: no boxed collections in per-doc
    * paths); an augmentation visits each distinct in-window position at
    * most once, so `visited` is bounded by m·(slop+1).
    */
  private def windowAssignable(lists: IndexedSeq[Array[Int]], v: Int,
      slop: Int): Boolean = {
    val m = lists.length
    val loIdx = new Array[Int](m)
    val hiIdx = new Array[Int](m)
    var i = 0
    while (i < m) {
      val arr = lists(i)
      var lo = java.util.Arrays.binarySearch(arr, v + i)
      if (lo < 0) lo = -lo - 1
      var hi = lo
      while (hi < arr.length && arr(hi) <= v + i + slop) hi += 1
      if (hi == lo) return false // offset i has no position in the window
      loIdx(i) = lo; hiIdx(i) = hi
      i += 1
    }
    val mPos = new Array[Int](m) // matched raw position
    val mOwn = new Array[Int](m) // its current owner offset
    var nMatched = 0
    val visited = new Array[Int](m * (slop + 1))
    var nVisited = 0
    def tryAssign(off: Int): Boolean = {
      val arr = lists(off)
      var idx = loIdx(off)
      while (idx < hiIdx(off)) {
        val p = arr(idx)
        var seen = false
        var k = 0
        while (k < nVisited) {
          if (visited(k) == p) { seen = true; k = nVisited } else k += 1
        }
        if (!seen) {
          visited(nVisited) = p; nVisited += 1
          var holder = -1
          k = 0
          while (k < nMatched) {
            if (mPos(k) == p) { holder = k; k = nMatched } else k += 1
          }
          if (holder < 0) {
            mPos(nMatched) = p; mOwn(nMatched) = off; nMatched += 1
            return true
          } else if (tryAssign(mOwn(holder))) {
            mOwn(holder) = off
            return true
          }
        }
        idx += 1
      }
      false
    }
    var off = 0
    while (off < m) {
      nVisited = 0
      if (!tryAssign(off)) return false
      off += 1
    }
    true
  }

  /** The edismax tie rule ([[ResolvedQuery]] groups) over one doc's
    * term-sorted contributions, NaN = absent, with `gids` the per-term group
    * ids (0 = ungrouped): in each group the first member at the group max
    * keeps factor 1 and every other member is damped ×tie. `apply` replaces
    * each contribution in place by its factored value and returns their
    * term-sorted sum. The scratch is reused across calls (no per-candidate
    * allocation), so one instance serves one thread.
    */
  final class TieFold(gids: Array[Int], tie: Double) {
    private val groupMax = new Array[Double](gids.foldLeft(0)(math.max) + 1)
    private val taken = new Array[Boolean](groupMax.length)

    def apply(contrib: Array[Double]): Double = {
      java.util.Arrays.fill(groupMax, Double.NegativeInfinity)
      java.util.Arrays.fill(taken, false)
      var i = 0
      while (i < contrib.length) {
        val g = gids(i)
        if (g > 0 && contrib(i) > groupMax(g)) groupMax(g) = contrib(i)
        i += 1
      }
      var s = 0.0
      i = 0
      while (i < contrib.length) {
        val c = contrib(i)
        if (!java.lang.Double.isNaN(c)) {
          val g = gids(i)
          val f =
            if (g == 0) c
            else if (!taken(g) && c == groupMax(g)) { taken(g) = true; c }
            else tie * c
          contrib(i) = f
          s += f
        }
        i += 1
      }
      s
    }
  }

  /** @param segsByTerm   posting segments grouped by term (only segments
    *                     overlapping [lo, hi) need be present)
    * @param dfByTerm     GLOBAL document frequency per term (sum of `count`
    *                     over ALL the term's segments, across every window —
    *                     segments are docId-disjoint, so the sum is exact);
    *                     drives idf
    * @param scoringTerms distinct positive terms, any order (sorted inside)
    * @param clauses      disjunction of conjunctive clauses (every clause's
    *                     positive terms appear in scoringTerms)
    * @param avgdlOf      per-term average doc length (per indexed field)
    * @param allow        extra per-doc predicate (stored-field filter /
    *                     tombstones); None = allow all
    * @param boosts       per-term score multipliers ≠ 1 (query `^boost`,
    *                     r5) — folded into each cursor's idf, so curScore,
    *                     upperBound and blockMax all scale together and
    *                     pruning stays exact
    * @param after        deep-pagination anchor (Lucene searchAfter / Solr
    *                     cursorMark, r5): only docs ranking strictly AFTER
    *                     (score, docId) in (-score, docId) order enter the
    *                     heap. Applied at offer time, so per-window
    *                     top-k-after-anchor merges to the exact global page
    *                     (filter-then-top-k ≡ top-k-of-filtered); block-max
    *                     pruning stays exact because the heap threshold only
    *                     ever underestimates the true page floor
    */
  def topK(
      segsByTerm: Map[String, Seq[PostingSegment]],
      dfByTerm: Map[String, Long],
      scoringTerms: Seq[String],
      clauses: Seq[ResolvedClause],
      n: Long, avgdlOf: String => Double, k: Int,
      lo: Long, hi: Long,
      allow: Option[Long => Boolean] = None,
      boosts: Map[String, Double] = Map.empty,
      after: Option[Scored] = None,
      groups: Map[String, Int] = Map.empty,
      tie: Double = 0.0): Array[Scored] = {

    // clauses whose required structure cannot be satisfied by the index are
    // dead; terms absent from the index are pruned out of their groups
    val live = clauses.flatMap { c =>
      val groups = c.mustGroups.map(_.filter(segsByTerm.contains))
      if (groups.exists(_.isEmpty)) None
      else if (!c.phrases.flatMap(_.terms).forall(segsByTerm.contains)) None
      else Some(ResolvedClause(groups, c.notTerms, c.phrases))
    }
    if (live.isEmpty) return Array.empty

    val sortedTerms = scoringTerms.distinct.sorted
    // term-sorted cursor array: scoring iterates this order (determinism)
    val cursors: Array[TermCursor] = sortedTerms.flatMap { t =>
      segsByTerm.get(t).map { segs =>
        // df MUST be the term's GLOBAL df: falling back to the window-local
        // segment sum would make idf (and so scores) depend on window
        // partitioning, breaking the cross-parallelism bit-identity contract
        val df = dfByTerm.getOrElse(t, throw new IllegalStateException(
          s"no global df for scoring term '$t'"))
        // boost folds into idf — SAME association order as the exhaustive
        // path and the oracle, so scores stay bit-identical across paths
        new TermCursor(t, segs, BM25.idf(n, df) * boosts.getOrElse(t, 1.0),
          avgdlOf(t), lo, hi)
      }
    }.toArray
    if (cursors.isEmpty) return Array.empty
    val cursorByTerm: Map[String, TermCursor] =
      cursors.map(c => c.term -> c).toMap

    val exclCursors: Array[TermCursor] =
      live.flatMap(_.notTerms).distinct.sorted.flatMap { t =>
        segsByTerm.get(t).map(segs =>
          new TermCursor(t, segs, 0.0, avgdlOf(t), lo, hi))
      }.toArray
    val exclByTerm: Map[String, TermCursor] =
      exclCursors.map(c => c.term -> c).toMap

    // candidates are processed in ascending docId order in both drivers, so
    // presence probes (which advance cursors monotonically) are safe
    def present(c: TermCursor, docId: Long): Boolean = {
      if (c.exhausted) false
      else {
        c.advanceTo(docId)
        !c.exhausted && c.curDoc == docId
      }
    }

    def clausesOk(docId: Long): Boolean = live.exists { cl =>
      cl.mustGroups.forall(_.exists(t => present(cursorByTerm(t), docId))) &&
      !cl.notTerms.exists(t => exclByTerm.get(t).exists(present(_, docId))) &&
      cl.phrases.forall { ph =>
        phraseMatch(ph.terms.map { t =>
          val c = cursorByTerm(t)
          if (!c.exhausted && c.curDoc == docId) c.curPositions
          else Array.empty[Int]
        }, ph.slop)
      }
    }

    def allowed(docId: Long): Boolean = allow.forall(f => f(docId))

    // edismax tie machinery (r5): per-cursor group ids aligned with the
    // term-sorted cursor array, plus reusable scratch (scoreAt runs once
    // per candidate — no per-candidate allocation). Upper bounds stay the
    // factor-1 sums: factors are ≤ 1, so pruning remains admissible (and
    // exact for tie=1 / groupless queries, the common case).
    val gids: Array[Int] = cursors.map(c => groups.getOrElse(c.term, 0))
    val tieFold =
      if (tie != 1.0 && gids.exists(_ > 0)) new TieFold(gids, tie) else null
    val tieContrib = if (tieFold != null) new Array[Double](cursors.length)
      else null

    /** Per-doc score over the term-sorted cursor array. Groupless (or
      * tie=1): plain sum of contributions in term-sorted order. With tie
      * groups: [[TieFold]] over the term-sorted contributions — identical
      * to the exhaustive fold and the oracle.
      */
    def scoreAt(docId: Long): Double = {
      if (tieFold == null) {
        var s = 0.0
        var i = 0
        while (i < cursors.length) {
          val c = cursors(i)
          if (!c.exhausted) {
            c.advanceTo(docId)
            if (!c.exhausted && c.curDoc == docId) s += c.curScore
          }
          i += 1
        }
        s
      } else {
        var i = 0
        while (i < cursors.length) {
          val c = cursors(i)
          var contrib = Double.NaN // NaN = absent (a 0.0 score is possible)
          if (!c.exhausted) {
            c.advanceTo(docId)
            if (!c.exhausted && c.curDoc == docId) contrib = c.curScore
          }
          tieContrib(i) = contrib
          i += 1
        }
        tieFold(tieContrib)
      }
    }

    val heap = new TopKHeap(k)
    // searchAfter gate: a doc is page-eligible iff it ranks strictly after
    // the anchor in (-score, docId) order. The no-anchor sentinel is
    // (+Inf, Long.MinValue) — everything ranks after it INCLUDING a
    // +Inf-scored doc (an absurd `term^1e999` boost overflows to Inf;
    // Double.MaxValue as the sentinel would silently drop such docs here
    // while searchExhaustive kept them, breaking rank identity).
    val aftScore = after.map(_.score).getOrElse(Double.PositiveInfinity)
    val aftDoc = after.map(_.docId).getOrElse(Long.MinValue)
    def pageEligible(score: Double, docId: Long): Boolean =
      score < aftScore || (score == aftScore && docId > aftDoc)
    def offer(docId: Long): Unit = {
      val s = scoreAt(docId)
      if (pageEligible(s, docId)) heap.offer(Scored(docId, s))
    }

    // terms required by EVERY clause (singleton must-group in each) drive a
    // leapfrog intersection — the fast path for plain AND / phrase queries
    val commonRequired: Array[TermCursor] = sortedTerms.filter { t =>
      live.forall(_.mustGroups.exists(g => g.length == 1 && g.head == t))
    }.flatMap(cursorByTerm.get).toArray

    if (commonRequired.nonEmpty) {
      val req = commonRequired
      if (req.exists(_.exhausted)) return heap.result()
      var done = false
      while (!done) {
        // align all required cursors on a common docId
        var candidate = Long.MinValue
        req.foreach(c => if (!c.exhausted && c.curDoc > candidate) candidate = c.curDoc)
        var aligned = true
        var i = 0
        while (i < req.length && !done) {
          val c = req(i)
          c.advanceTo(candidate)
          if (c.exhausted) { done = true }
          else if (c.curDoc > candidate) { aligned = false; i = req.length }
          i += 1
        }
        if (!done && aligned) {
          if (allowed(candidate) && clausesOk(candidate))
            offer(candidate)
          // advance the first required cursor past the candidate
          req(0).next()
          if (req(0).exhausted) done = true
        }
      }
    } else {
      // disjunctive block-max WAND over an INCREMENTALLY ordered cursor
      // array (round-2 review item: the old loop rebuilt filter+sortBy
      // collections on every pivot — the hottest allocation in the engine)
      val arr: Array[TermCursor] = cursors.filter(!_.exhausted)
      java.util.Arrays.sort(arr, Ordering.by[TermCursor, Long](_.curDoc))
      var active = arr.length // prefix of arr that is not exhausted

      def keyOf(c: TermCursor): Long =
        if (c.exhausted) Long.MaxValue else c.curDoc

      /** Re-place arr(0) after it moved forward: shift the prefix left and
        * insert at its new sorted position (exhausted sinks past `active`).
        */
      def repositionHead(): Unit = {
        val c = arr(0)
        val key = keyOf(c)
        if (c.exhausted) active -= 1
        var j = 1
        while (j < arr.length && keyOf(arr(j)) < key) {
          arr(j - 1) = arr(j)
          j += 1
        }
        arr(j - 1) = c
      }

      var done = active == 0
      while (!done) {
        if (active == 0) done = true
        else {
          val theta = heap.threshold
          // pivot: smallest prefix whose term upper bounds can beat theta
          var acc = 0.0
          var p = -1
          var i = 0
          while (i < active && p < 0) {
            acc += arr(i).upperBound
            if (acc > theta) p = i
            i += 1
          }
          if (p < 0) done = true // no remaining doc can beat theta
          else {
            val pivotDoc = arr(p).curDoc
            if (arr(0).curDoc == pivotDoc) {
              // all cursors up to p are at pivotDoc; extend to every cursor
              // matching pivotDoc for the block-max check
              var pEnd = p
              while (pEnd + 1 < active && arr(pEnd + 1).curDoc == pivotDoc)
                pEnd += 1
              var bmSum = 0.0
              var j = 0
              while (j <= pEnd) { bmSum += arr(j).currentBlockMax; j += 1 }
              if (bmSum > theta) {
                if (allowed(pivotDoc) && clausesOk(pivotDoc))
                  offer(pivotDoc)
              }
              // consume every cursor at pivotDoc, repositioning one at a
              // time (after each step the new head is the next smallest)
              while (active > 0 && !arr(0).exhausted &&
                  arr(0).curDoc == pivotDoc) {
                arr(0).next()
                repositionHead()
              }
            } else {
              // advance the smallest cursor up to the pivot
              arr(0).advanceTo(pivotDoc)
              repositionHead()
            }
          }
        }
      }
    }
    heap.result()
  }
}
