package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.query._

/** Wildcard query surface: the glob matcher (pinned to DuckDB's GLOB, which
  * the correctness oracle uses), the dictionary-expansion rule, and the
  * `te?t` / `t*st` / `*ing` parser grammar.
  */
class WildcardSpec extends AnyFunSuite {

  test("glob matcher == regex translation (property over random pairs)") {
    val rng = new java.util.Random(20260818L)
    val alpha = "ab01"
    def randPattern(): String = {
      val n = 1 + rng.nextInt(6)
      (0 until n).map { _ =>
        rng.nextInt(4) match {
          case 0 => "*"
          case 1 => "?"
          case _ => alpha.charAt(rng.nextInt(alpha.length)).toString
        }
      }.mkString
    }
    def randStr(): String = {
      val n = rng.nextInt(8)
      (0 until n).map(_ => alpha.charAt(rng.nextInt(alpha.length))).mkString
    }
    (0 until 20000).foreach { _ =>
      val p = randPattern()
      val s = randStr()
      val re = p.flatMap {
        case '*' => ".*"
        case '?' => "."
        case c   => java.util.regex.Pattern.quote(c.toString)
      }
      assert(Glob.matches(s, p) == s.matches(re), s"glob('$s','$p')")
    }
    // DuckDB GLOB pins (probed): s?a* over the sf vocab
    assert(Glob.matches("spark", "s?a*"))
    assert(Glob.matches("scan", "s?a*"))
    assert(!Glob.matches("slow", "s?a*"))
    assert(Glob.matches("stream", "s*"))
    assert(Glob.matches("ab", "*"))
    assert(!Glob.matches("ab", "a?b"))
    assert(Glob.matches("", "*"))
    assert(Glob.matches("ab", "*b"))
    assert(Glob.matches("axxb", "a*b"))
  }

  test("literalPrefix") {
    assert(Glob.literalPrefix("te?t") == "te")
    assert(Glob.literalPrefix("t*st") == "t")
    assert(Glob.literalPrefix("*ing") == "")
    assert(Glob.literalPrefix("abc") == "abc")
  }

  test("dictWildcard: field scoping, sort, cap") {
    val dict = Seq("test", "text", "tent", "toast", "title:test", "title:ten")
    assert(QueryResolve.dictExpander(dict).wildcard("te?t") ==
      Seq("tent", "test", "text"))
    assert(QueryResolve.dictExpander(dict).wildcard("t*st") ==
      Seq("test", "toast"))
    assert(QueryResolve.dictExpander(dict).wildcard("*t") ==
      Seq("tent", "test", "text", "toast"))
    assert(QueryResolve.dictExpander(dict).wildcard("title:te*") ==
      Seq("title:ten", "title:test"))
    // cap: lexicographically first MaxPrefixExpansion
    val big = for (a <- 'a' to 'z'; b <- 'a' to 'z') yield s"term$a$b"
    val got = QueryResolve.dictExpander(big).wildcard("term*")
    assert(got.size == QueryResolve.MaxPrefixExpansion)
    assert(got == got.sorted && got.head == "termaa")
  }

  test("parser: wildcard grammar — routing, case, rejects") {
    def lit(q: String): TermLit = QueryParser.parse(q).scoringLits.head
    // simple trailing-* stays a PrefixLit (range-pushdown family)
    assert(lit("w00*") == PrefixLit("w00"))
    // '?', infix/leading/multiple '*' become WildcardLit
    assert(lit("te?t") == WildcardLit("te?t"))
    assert(lit("t*st") == WildcardLit("t*st"))
    assert(lit("*ing") == WildcardLit("*ing"))
    assert(lit("a*b*") == WildcardLit("a*b*"))
    assert(lit("w00?1*") == WildcardLit("w00?1*"))
    assert(lit("title:d?c") == WildcardLit("title:d?c"))
    assert(lit("TE?T") == WildcardLit("te?t")) // analyzer-consistent lowercase
    // boost composes
    assert(QueryParser.parse("te?t^2").boosts ==
      Map(WildcardLit("te?t") -> 2.0))
    // loud rejects: no-literal patterns, bad alphabet, fuzzy combination
    intercept[IllegalArgumentException](QueryParser.parse("*"))
    intercept[IllegalArgumentException](QueryParser.parse("??"))
    intercept[IllegalArgumentException](QueryParser.parse("*?*"))
    intercept[IllegalArgumentException](QueryParser.parse("te.t*"))
    intercept[IllegalArgumentException](QueryParser.parse("te?t~1"))
    // url filter values keep raw characters ('?'/'*' are legitimate there)
    assert(QueryParser.parse("url:h/p?q=1 w1").urlFilter.contains("h/p?q=1"))
  }

  test("resolve: wildcard expands into clauses, scoring and boosts") {
    val dict = Seq("test", "text", "tot", "zzz")
    val exp = QueryResolve.dictExpander(dict)
    val rq = QueryResolve.resolve(QueryParser.parse("te?t AND zzz"), exp)
    assert(rq.scoringTerms == Seq("test", "text", "zzz"))
    assert(rq.clauses.head.mustGroups.toSet ==
      Set(Seq("test", "text"), Seq("zzz")))
    val rq2 = QueryResolve.resolve(QueryParser.parse("t*t^0.5 text"), exp)
    assert(rq2.boosts == Map("test" -> 0.5, "tot" -> 0.5))
    // no dictionary match → clause unsatisfiable → dropped
    val rq3 = QueryResolve.resolve(QueryParser.parse("q?q OR zzz"), exp)
    assert(rq3.clauses.map(_.mustGroups) == Seq(Seq(Seq("zzz"))))
    // negative side expands too
    val rq4 = QueryResolve.resolve(QueryParser.parse("zzz NOT te?t"), exp)
    assert(rq4.clauses.head.notTerms.toSet == Set("test", "text"))
  }
}
