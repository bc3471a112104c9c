package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.query._

/** Fuzzy query surface: the Damerau-Levenshtein metric itself (pinned to
  * DuckDB's `damerau_levenshtein`, which the correctness oracle uses), the
  * dictionary-expansion rule, and the `term~N` parser grammar.
  */
class FuzzySpec extends AnyFunSuite {

  test("distance matches DuckDB damerau_levenshtein (pinned fixture)") {
    // 40 random pairs cross-checked against DuckDB 1.x; the full
    // pre-commit sweep was 20k random pairs with zero mismatches. If this
    // fixture ever fails, the ORACLE SQL for fuzzy queries diverges too —
    // fix the metric, never the fixture.
    val fixture = Seq(
      ("a", "bbba", 3), ("1", "aaabb1", 5), ("", "10b", 3),
      ("1cab0cc", "bc", 5), ("a", "acc1ca", 5), ("1a0a1c1", "1baab", 5),
      ("aba0", "0cbc", 4), ("bca1b", "b00", 4), ("1bca", "ac0", 3),
      ("ab1c", "000", 4), ("cb", "11c", 3), ("10cbb1", "aaabb01", 4),
      ("0", "101c1a", 5), ("1", "cac0", 4), ("0a", "1b1a", 3),
      ("11bb", "b11a1", 3), ("0aacc", "ab1", 4), ("a", "a1bb01b", 6),
      ("110b", "c0c", 3), ("10abbac", "", 7), ("1ba", "a", 2),
      ("aac", "1", 3), ("c0b", "11", 3), ("b00baa0", "000aa", 3),
      ("", "cabbb1", 6), ("b0bc0ba", "1aa1aab", 6), ("00", "b0ab0a0", 5),
      ("0c01", "bbcba11", 5), ("", "aa101", 5), ("a1", "b", 2),
      ("1", "b", 1), ("a1b11a", "0", 6), ("cbcbc", "bc0caa", 4),
      ("11aa1b1", "bcab", 5), ("cb01c", "", 5), ("abca", "1", 4),
      ("cc", "cbc", 1), ("caa0caa", "bcb01", 6), ("1aaab1", "", 6),
      ("11b0b", "", 5))
    fixture.foreach { case (a, b, e) =>
      assert(Fuzzy.distance(a, b) == e, s"dl($a,$b)")
      assert(Fuzzy.distance(b, a) == e, s"dl($b,$a) (symmetry)")
    }
  }

  test("full (unrestricted) transpositions, not the OSA restriction") {
    // the signature case: transpose 'ca'→'ac' then insert between — 2 under
    // full DL (and DuckDB), 3 under the restricted/OSA variant
    assert(Fuzzy.distance("ca", "abc") == 2)
    assert(Fuzzy.distance("a", "ba") == 1)
    assert(Fuzzy.distance("abcd", "badc") == 2)
    assert(Fuzzy.distance("spark", "spark") == 0)
    assert(Fuzzy.distance("spark", "sprak") == 1) // adjacent transposition
    assert(Fuzzy.distance("spark", "part") == 2)
  }

  test("within: length gate agrees with the matrix") {
    assert(!Fuzzy.within("ab", "abcde", 2))
    assert(Fuzzy.within("abc", "abcde", 2))
    assert(Fuzzy.within("w00017", "w00018", 1))
    assert(!Fuzzy.within("w00017", "w00028", 1))
    assert(Fuzzy.within("w00017", "w00028", 2))
  }

  test("dictFuzzy: field scoping, sort, cap, self-inclusion") {
    val dict = Seq("w1", "w2", "x1", "title:w1", "title:w3", "title:abcdef")
    // bare key: only un-fielded terms, distance ≤ 1 of "w1"
    assert(QueryResolve.dictExpander(dict).fuzzy("w1", 1) ==
      Seq("w1", "w2", "x1"))
    // title key: compares the TOKEN part, keeps the field prefix in results
    assert(QueryResolve.dictExpander(dict).fuzzy("title:w1", 1) ==
      Seq("title:w1", "title:w3"))
    assert(QueryResolve.dictExpander(dict).fuzzy("w1", 0) == Seq("w1"))
    // cap: lexicographically first MaxPrefixExpansion — 676 terms differing
    // from the target only in the last two chars are ALL within distance 2
    val big = for (a <- 'a' to 'z'; b <- 'a' to 'z') yield s"term$a$b"
    val got = QueryResolve.dictExpander(big).fuzzy("termaa", 2)
    assert(got.size == QueryResolve.MaxPrefixExpansion)
    assert(got == got.sorted && got.head == "termaa")
  }

  test("parser: term~N grammar, Lucene defaults and caps") {
    def lits(q: String): Seq[TermLit] = QueryParser.parse(q).scoringLits
    assert(lits("w00017~1") == Seq(FuzzyLit("w00017", 1)))
    assert(lits("w00017~2") == Seq(FuzzyLit("w00017", 2)))
    assert(lits("w00017~") == Seq(FuzzyLit("w00017", 2))) // bare ~ = 2
    assert(lits("w00017~0") == Seq(ExactLit("w00017"))) // 0 edits = exact
    assert(lits("title:doc~1") == Seq(FuzzyLit("title:doc", 1)))
    // boost composes after the fuzzy marker (Lucene order term~N^B)
    val ast = QueryParser.parse("w00017~1^2 w00342")
    assert(ast.boosts == Map(FuzzyLit("w00017", 1) -> 2.0))
    // loud rejects: cap, float similarity, misplaced markers, combinations
    intercept[IllegalArgumentException](QueryParser.parse("a~3"))
    intercept[IllegalArgumentException](QueryParser.parse("a~0.8"))
    intercept[IllegalArgumentException](QueryParser.parse("a~1~2"))
    intercept[IllegalArgumentException](QueryParser.parse("~a"))
    intercept[IllegalArgumentException](QueryParser.parse("a*~1"))
    intercept[IllegalArgumentException](QueryParser.parse("a~x"))
    // filter-field values keep '~' raw (url filters are substrings)
    assert(QueryParser.parse("url:a~b w1").urlFilter.contains("a~b"))
  }

  test("resolve: fuzzy literal expands into clauses, scoring and boosts") {
    val dict = Seq("w00017", "w00018", "w00027", "zzz")
    val exp = QueryResolve.dictExpander(dict)
    val rq = QueryResolve.resolve(QueryParser.parse("w00017~1 AND zzz"), exp)
    assert(rq.scoringTerms == Seq("w00017", "w00018", "w00027", "zzz"))
    assert(rq.clauses.size == 1)
    assert(rq.clauses.head.mustGroups.toSet ==
      Set(Seq("w00017", "w00018", "w00027"), Seq("zzz")))
    // boost fans out to every expansion; the bare term pins its own at 1
    val rq2 = QueryResolve.resolve(
      QueryParser.parse("w00017~1^0.5 w00018"), exp)
    assert(rq2.boosts == Map("w00017" -> 0.5, "w00027" -> 0.5))
    // a fuzzy literal matching nothing drops its clause (like prefixes)
    val rq3 = QueryResolve.resolve(
      QueryParser.parse("qqqqqqqq~1 OR zzz"), exp)
    assert(rq3.clauses.map(_.mustGroups) == Seq(Seq(Seq("zzz"))))
    // NOT term~N expands on the negative side
    val rq4 = QueryResolve.resolve(
      QueryParser.parse("zzz NOT w00017~1"), exp)
    assert(rq4.clauses.head.notTerms.toSet ==
      Set("w00017", "w00018", "w00027"))
  }
}
