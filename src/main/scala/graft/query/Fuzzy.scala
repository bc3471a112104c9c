package graft.query

/** Damerau-Levenshtein edit distance for fuzzy term expansion.
  *
  * The reference's search surface is a raw Lucene query string
  * (/root/reference/src/searchindex.py:98); Lucene's `term~N` FuzzyQuery
  * matches dictionary terms within Damerau-Levenshtein distance N
  * (insert / delete / substitute / transpose-adjacent, each cost 1), with
  * N ≤ 2. This is the FULL (Lowrance-Wagner) metric — a transposition may
  * be followed by later edits between the transposed characters — which is
  * also exactly what DuckDB's `damerau_levenshtein` computes (probed:
  * dl("ca","abc") = 2, where the restricted/OSA variant gives 3), so the
  * engine and the correctness oracle share one definition.
  *
  * Tokens here are short ([a-z0-9]+, typically ≤ 20 chars), so the O(|a|·|b|)
  * matrix with the O(alphabet) last-occurrence table is plenty; [[within]]
  * rejects candidates whose length differs by more than `maxEdits` before
  * paying for the matrix.
  */
object Fuzzy {

  /** Lucene's cap: FuzzyQuery supports maxEdits 0..2 only. */
  val MaxSupportedEdits = 2

  /** True iff dl(a, b) ≤ maxEdits. Cheap length gate first. */
  def within(a: String, b: String, maxEdits: Int): Boolean = {
    if (math.abs(a.length - b.length) > maxEdits) false
    else distance(a, b) <= maxEdits
  }

  /** Full Damerau-Levenshtein distance (unrestricted transpositions). */
  def distance(a: String, b: String): Int = {
    val n = a.length
    val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    // Lowrance-Wagner: d is (n+2)×(m+2) with a sentinel row/col of INF so
    // the transposition lookup d(k)(l) is always in range; da(c) = last row
    // index (1-based) where character c occurred in a.
    val inf = n + m
    val d = Array.ofDim[Int](n + 2, m + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= n) { d(i + 1)(0) = inf; d(i + 1)(1) = i; i += 1 }
    var j = 0
    while (j <= m) { d(0)(j + 1) = inf; d(1)(j + 1) = j; j += 1 }
    // alphabet is [a-z0-9] in practice but keys may carry ':'; a small
    // open-addressed map would be overkill — use a 128-slot table with a
    // fallback map for the (never-seen) non-ASCII case
    val daAscii = new Array[Int](128)
    var daOther: scala.collection.mutable.HashMap[Char, Int] = null
    def daGet(c: Char): Int =
      if (c < 128) daAscii(c)
      else if (daOther == null) 0
      else daOther.getOrElse(c, 0)
    def daPut(c: Char, v: Int): Unit =
      if (c < 128) daAscii(c) = v
      else {
        if (daOther == null) daOther = scala.collection.mutable.HashMap.empty
        daOther(c) = v
      }
    i = 1
    while (i <= n) {
      var db = 0
      val ac = a.charAt(i - 1)
      j = 1
      while (j <= m) {
        val bc = b.charAt(j - 1)
        val k = daGet(bc)
        val l = db
        val cost = if (ac == bc) { db = j; 0 } else 1
        val sub = d(i)(j) + cost
        val ins = d(i + 1)(j) + 1
        val del = d(i)(j + 1) + 1
        val trans = d(k)(l) + (i - k - 1) + 1 + (j - l - 1)
        var best = sub
        if (ins < best) best = ins
        if (del < best) best = del
        if (trans < best) best = trans
        d(i + 1)(j + 1) = best
        j += 1
      }
      daPut(ac, i)
      i += 1
    }
    d(n + 1)(m + 1)
  }
}
