package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.{CorpusGen, WebDoc}
import graft.index._
import graft.oracle.{OracleDoc, SeqOracle}
import graft.query.{QueryEngine, Deletes}

/** End-to-end: distributed build → golden queries rank-identical to the
  * sequential oracle (FIXTURES.md §3) via BOTH physical strategies, plus
  * index-structure invariants, determinism across parallelism, resume, and
  * deletes. Golden set covers fielded filters (lang:/url:), ranges, and
  * positional phrases — each exercised through the driver fast path, the
  * distributed windowed path (driver threshold 0) and the exhaustive plan.
  */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val NDocs = 500L
  private val conf = IndexConf(numBuckets = 8, segmentMaxDocs = 64)

  /** Build once, share across tests in this suite. */
  private lazy val indexDir: String = {
    val dir = SparkTestSession.tempDir("graft-index")
    val docs = CorpusGen.generate(spark, NDocs)
    IndexBuilder.build(spark, docs, dir, conf)
    dir
  }

  private def oracleDocs(n: Long): Seq[OracleDoc] =
    CorpusGen.generateLocal(n).sortBy(_.url).zipWithIndex.map { case (d, i) =>
      OracleDoc(i.toLong, d.text, d.lang, d.url, d.warc_ts.getTime,
        graft.corpus.Extractor.extractTitle(d.html))
    }

  /** Oracle over the same corpus with the engine's docId assignment
    * (dense rank in url order).
    */
  private lazy val oracle: SeqOracle = new SeqOracle(oracleDocs(NDocs))

  private lazy val engine = new QueryEngine(spark, indexDir, conf.numBuckets)

  private val goldenQueries = Seq(
    "w00017", "the", "w00017 w00342", "w00017 AND w00342",
    "\"w00017 w00342\"", "w00017 NOT w00342", "text:w01234",
    "lang:no AND w00099", "w49998", "w00001 w00002 w00003 w00004 w00005",
    // boolean precedence (round 3): OR of conjunctive groups + parens
    "w00017 AND w00342 OR w00343", "w00017 AND (w00342 OR w00343)",
    "(w00017 AND w00342) OR (w00343 AND w00344)",
    "w00017 OR w00342 NOT w00343", "+w00017 w00342 w00343",
    // trailing-* prefix queries (term-range dictionary expansion)
    "w0099*", "w1234* AND the", "w00017 NOT w0034*",
    // title field (second indexed field; every synthetic title is "doc <i>")
    "title:doc AND w00017", "title:9 w00017",
    // stored-field url filter (substring) — the round-1 silent-drop bug
    "url:host3. w00017", "url:host3. the", "url:host1. AND w00002",
    // positional phrases over the stopword head (adjacency-sensitive)
    "\"the of\"", "\"of the\" w00017",
    // phrase slop (round 4): in-order within a stretched window
    "\"the of\"~1", "\"of the\"~2 w00017", "\"the the\"~3",
    // field-qualified phrases (title positions are field-local) ± slop
    "title:\"doc 1\"", "title:\"doc 9\"~1 w00017",
    // stored-field ranges (inclusive, ISO instants / lexicographic)
    "warc_ts:[2024-01-01T00:00:00Z TO 2024-01-01T02:00:00Z] the",
    "warc_ts:[2024-01-01T01:00:00Z TO *] w00017",
    "url:[https://host10 TO https://host12z] the",
    // boosts (round 5): term, fractional, phrase, prefix, title-fielded
    "w00017^2 OR w00342", "w00017 w00342^0.5", "\"the of\"^2 w00017",
    "w0099*^3 the", "title:doc^2 AND w00017", "the^0.1 w00017",
    // fuzzy (round 5): Damerau-Levenshtein dictionary expansion `term~N`
    "w00017~1", "w00017~2 AND w00342", "the~1", "title:doc~1 w00017",
    "w00017~1^2 w00342", "w00017 NOT w00342~1",
    // wildcards (round 5): glob dictionary expansion `?` / infix / leading *
    "w0001?", "w*17", "*0017", "w00?1* AND the", "title:d?c AND w00017",
    "w0001?^2 w00342", "w00017 NOT w0034?",
    // field groups (round 5): title:(...) scopes unqualified terms
    "title:(doc 9) w00017", "title:(doc AND 1)", "text:(w00017 w00342)",
    "title:(d?c 9~1) AND w00017",
    // group boosts (round 5)
    "(w00017 OR w00342)^2 w00343", "title:(doc 9)^0.5 w00017",
    "(w00017^5 w00342)^2 the",
    // term ranges on indexed fields (round 5): [incl] / {excl} / mixed /
    // open ends / boost / group-scope-inherited / negated
    "text:[w00015 TO w00020]", "text:{w00017 TO w00020] AND the",
    "title:[1 TO 3} w00017", "text:[w0034 TO w00345}^2 w00017",
    "text:[* TO w00002} the", "title:([1 TO 2] doc)",
    "w00017 NOT text:[w00340 TO w00345]",
    // exclusive bounds on stored-field filter ranges (round 5)
    "warc_ts:{2024-01-01T00:00:00Z TO 2024-01-01T02:00:00Z] the",
    "url:[https://host10 TO https://host12z} the",
    // Solr match-all (round 5): constant score 1.0, docId-ascending
    "*:*")

  private def assertRankIdentical(got: Seq[(Long, Double)],
      expect: Seq[(Long, Double)], ctx: String): Unit = {
    assert(got.map(_._1) == expect.map(_._1),
      s"[$ctx]\n got=${got.take(12)}\n exp=${expect.take(12)}")
    got.zip(expect).foreach { case ((_, gs), (_, es)) =>
      assert(math.abs(gs - es) < 1e-9, s"[$ctx] score $gs != $es")
    }
  }

  test("index invariants: stats, df, doclen match oracle") {
    val stats = IndexLayout.combinedStats(spark, indexDir)
    assert(stats.n == NDocs)
    assert(math.abs(stats.avgdl - oracle.avgdl) < 1e-9)
    assert(stats.totalTerms == oracle.totalTerms)

    val segs = spark.read
      .parquet(SegmentChecks.postingsPaths(indexDir): _*)
      .as[PostingSegment].collect()
    // per-term: segment counts sum to global df, segment cfs to global cf;
    // docIds sorted; segments docId-disjoint
    segs.groupBy(_.term).foreach { case (term, ss) =>
      assert(ss.map(_.count.toLong).sum == oracle.df(term),
        s"df mismatch for $term")
      assert(ss.map(_.cf).sum == oracle.cf(term), s"cf mismatch for $term")
      val ranges = ss.sortBy(_.firstDocId).toSeq
      ranges.sliding(2).foreach { w =>
        if (w.size == 2) assert(w(0).lastDocId < w(1).firstDocId)
      }
      ss.foreach { s =>
        val (ids, _, _) = PostingCodec.decodeAll(s)
        assert(ids.toSeq == ids.sorted.toSeq)
        assert(s.termBucket == IndexBuilder.bucketOf(term, conf.numBuckets))
      }
    }
    // skewed terms really are segmented
    val stopSegs = segs.filter(_.term == "the")
    assert(stopSegs.length > 1, "expected 'the' to be split into segments")
  }

  test("docs table: dense docIds in url order, doclen matches tokenizer") {
    val docsT = spark.read.parquet(SegmentChecks.docsPaths(indexDir): _*)
      .orderBy("docId").collect()
    assert(docsT.length == NDocs)
    val urls = docsT.map(_.getAs[String]("url"))
    assert(urls.toSeq == urls.sorted.toSeq)
    assert(docsT.map(_.getAs[Long]("docId")).toSeq == (0L until NDocs))
    val expected = CorpusGen.generateLocal(NDocs).sortBy(_.url)
    docsT.zip(expected).foreach { case (row, d) =>
      assert(row.getAs[String]("url") == d.url)
      assert(row.getAs[Long]("doclen") ==
        Analysis.tokenize(d.text).length.toLong)
    }
  }

  test("golden queries: WAND (driver + distributed) and exhaustive rank-identical to oracle") {
    // force the distributed windowed path with a zero driver threshold
    val distEngine = new QueryEngine(spark, indexDir, conf.numBuckets,
      driverWandMaxSegments = 0)
    goldenQueries.foreach { q =>
      val expect = oracle.topK(q, 10)
      val wand = engine.searchWand(q, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val dist = distEngine.searchWand(q, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val exh = engine.searchExhaustive(q, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assertRankIdentical(wand, expect, s"WAND-driver q='$q'")
      assertRankIdentical(dist, expect, s"WAND-dist q='$q'")
      assertRankIdentical(exh, expect, s"EXH q='$q'")
    }
  }

  test("url: filter actually filters (round-1 regression: parsed but dropped)") {
    val unfiltered = engine.search("w00017", 10).collect().map(_.getLong(0))
    val filtered = engine.search("url:host3. w00017", 200).collect()
      .map(_.getLong(0))
    assert(unfiltered.toSet != filtered.toSet,
      "url-filtered result should differ from unfiltered")
    val docsT = spark.read.parquet(SegmentChecks.docsPaths(indexDir): _*)
      .select("docId", "url").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    filtered.foreach(id =>
      assert(docsT(id).contains("host3."), s"docId=$id url=${docsT(id)}"))
    assert(filtered.nonEmpty)
  }

  test("phrase is positional, not AND-of-terms") {
    def mk(url: String, text: String): WebDoc = WebDoc(url,
      new java.sql.Timestamp(1704067200000L),
      s"<html><head><title>t</title></head><body>$text</body></html>"
        .getBytes(UTF_8),
      text, "en")
    val corpus = Seq(
      mk("https://a.example.org/1", "alpha beta gamma filler words here"),
      mk("https://a.example.org/2", "beta alpha gamma other filler text"),
      mk("https://a.example.org/3", "alpha filler beta nothing adjacent"),
      mk("https://a.example.org/4", "prefix alpha beta suffix tokens too"))
    val dir = SparkTestSession.tempDir("graft-phrase")
    IndexBuilder.build(spark, spark.createDataset(corpus),
      dir, IndexConf(numBuckets = 4))
    val eng = new QueryEngine(spark, dir, 4)
    val orc = new SeqOracle(corpus.sortBy(_.url).zipWithIndex.map {
      case (d, i) => OracleDoc(i.toLong, d.text, d.lang, d.url, 0L)
    })
    val andHits = eng.search("alpha AND beta", 10).collect().map(_.getLong(0))
    val phraseHits = eng.search("\"alpha beta\"", 10).collect().map(_.getLong(0))
    assert(andHits.length == 4)
    assert(phraseHits.length == 2) // docs 1 and 4 have the adjacent bigram
    assert(phraseHits.toSet.subsetOf(andHits.toSet))
    assert(phraseHits.toSeq ==
      orc.topK("\"alpha beta\"", 10).map(_._1))
    // exhaustive path agrees
    assert(eng.searchExhaustive("\"alpha beta\"", 10).collect()
      .map(_.getLong(0)).toSeq == phraseHits.toSeq)

    // slop widens the window but keeps term ORDER: ~1 additionally admits
    // "alpha filler beta" (span 2); "beta alpha ..." still requires order
    val slop1 = eng.search("\"alpha beta\"~1", 10).collect().map(_.getLong(0))
    assert(slop1.length == 3 && !slop1.contains(
      eng.docs.filter($"url".endsWith("/2")).head().getLong(0)))
    assert(slop1.toSeq == orc.topK("\"alpha beta\"~1", 10).map(_._1))
    assert(eng.searchExhaustive("\"alpha beta\"~1", 10).collect()
      .map(_.getLong(0)).toSeq == slop1.toSeq)
    // slop=0 is exactly the consecutive phrase
    assert(eng.search("\"alpha beta\"~0", 10).collect().map(_.getLong(0))
      .toSeq == phraseHits.toSeq)

    // Lucene edit-distance slop (r5): the adjacent TRANSPOSED bigram
    // ("beta alpha …", doc /2) costs 2 moves — excluded at ~1, admitted
    // at ~2, on engine, exhaustive, and oracle alike
    val doc2 = eng.docs.filter($"url".endsWith("/2")).head().getLong(0)
    val slop2 = eng.search("\"alpha beta\"~2", 10).collect().map(_.getLong(0))
    assert(slop2.contains(doc2), "slop 2 must admit the transposed bigram")
    assert(slop2.length == 4)
    assert(slop2.toSeq == orc.topK("\"alpha beta\"~2", 10).map(_._1))
    assert(eng.searchExhaustive("\"alpha beta\"~2", 10).collect()
      .map(_.getLong(0)).toSeq == slop2.toSeq)
  }

  test("searchAfter: pages concatenate to the full ranking on every path") {
    val distEngine = new QueryEngine(spark, indexDir, conf.numBuckets,
      driverWandMaxSegments = 0)
    val pageSize = 50
    def pageThrough(fetch: Option[graft.query.Wand.Scored] => Seq[(Long, Double)])
        : Seq[(Long, Double)] = {
      val acc = scala.collection.mutable.Buffer.empty[(Long, Double)]
      var after: Option[graft.query.Wand.Scored] = None
      var done = false
      while (!done) {
        val page = fetch(after)
        acc ++= page
        if (page.length < pageSize || acc.size > 2 * NDocs) done = true
        else after = Some(graft.query.Wand.Scored(page.last._1, page.last._2))
      }
      acc.toSeq
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // "the" pages through ~the whole corpus (many boundaries, score ties);
    // the others cross 1–3 boundaries with filters/phrases in play
    // "*:*" pages the whole corpus on ONLY the docId half of the anchor
    // (every score ties at 1.0 — the adversarial case for strictly-after)
    Seq("the", "w00017 OR w00342 OR w00343", "\"of the\"~2 w00017",
        "url:host3. the", "*:*").foreach { q =>
      val full = oracle.topK(q, NDocs.toInt)
      val drv = pageThrough(a => rows(engine.search(q, pageSize, "text", a)))
      assertRankIdentical(drv, full, s"page-driver q='$q'")
      val dst = pageThrough(a =>
        rows(distEngine.search(q, pageSize, "text", a)))
      assertRankIdentical(dst, full, s"page-dist q='$q'")
      val exh = pageThrough(a =>
        rows(engine.searchExhaustive(q, pageSize, "text", a)))
      assertRankIdentical(exh, full, s"page-exh q='$q'")
      // the oracle's own paging agrees with its full ranking
      val orcPaged = pageThrough(a => oracle.topK(q, pageSize, "text",
        a.map(s => (s.docId, s.score))))
      assertRankIdentical(orcPaged, full, s"page-oracle q='$q'")
    }
  }

  test("deleteAllByQuery: cursor-paged delete reaches every match") {
    def mk(url: String, text: String): WebDoc = WebDoc(url,
      new java.sql.Timestamp(1704067200000L),
      s"<html><head><title>t</title></head><body>$text</body></html>"
        .getBytes(UTF_8),
      text, "en")
    val corpus = (0 until 23).map(i => mk(s"https://d.example.org/$i",
      if (i % 3 == 0) s"keeper item number $i words"
      else s"victim marker item number $i words"))
    val dir = SparkTestSession.tempDir("graft-delall")
    IndexBuilder.build(spark, spark.createDataset(corpus),
      dir, IndexConf(numBuckets = 4))
    val eng = new QueryEngine(spark, dir, 4)
    val matches = eng.search("marker", 100).collect().length
    assert(matches == 15)
    // pageSize 4 forces 4 page boundaries; flushEvery 5 staggers tombstone
    // flushes against them (flush mid-walk, not aligned to pages)
    val deleted = eng.deleteAllByQuery("marker", pageSize = 4, flushEvery = 5)
    assert(deleted == 15L)
    eng.invalidateCache()
    assert(eng.search("marker", 100).collect().isEmpty)
    // untouched docs still searchable
    assert(eng.search("keeper", 100).collect().length == 8)
  }

  test("match-all *:*: constant score, fq, tombstones, delete-all, rejects (r5)") {
    // ranking = first-k docIds at score exactly 1.0 (rank identity across
    // the three physical paths + oracle is covered by the golden set)
    val top = engine.search("*:*", 7).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top == (0L until 7L).map(id => (id, 1.0)))
    // the Solr staple: q=*:* + fq — pure-filter and term fqs both constrain
    // the whole corpus without touching the constant score
    Seq(Seq("lang:no"), Seq("w00017"), Seq("lang:en", "w00342")).foreach { fq =>
      val got = engine.search("*:*", NDocs.toInt, fq = fq).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val exp = oracle.topK("*:*", NDocs.toInt, fq = fq)
      assertRankIdentical(got, exp, s"*:* fq=$fq")
      assert(got.nonEmpty && got.forall(_._2 == 1.0))
      assert(got.size < NDocs, s"fq=$fq should constrain *:*")
    }
    // fq=*:* is accepted and constrains nothing (Solr parity)
    val plain = engine.search("w00017", 10).collect().map(_.getLong(0)).toSeq
    val fqAll = engine.search("w00017", 10, fq = Seq("*:*")).collect()
      .map(_.getLong(0)).toSeq
    assert(plain == fqAll)
    // facet.query sub-query *:* counts the whole base match set
    val fc = engine.facetQuery("w00017", Seq("*:*", "lang:no")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(fc.head ==
      ("*:*", oracle.topK("w00017", NDocs.toInt).size.toLong))
    assert(fc == oracle.facetQuery("w00017", Seq("*:*", "lang:no")))
    // tombstoned docs vanish from *:* on every path; delete-all empties
    val dir = SparkTestSession.tempDir("graft-matchall")
    IndexBuilder.build(spark, CorpusGen.generate(spark, 40), dir,
      IndexConf(numBuckets = 4))
    val eng = new QueryEngine(spark, dir, 4)
    val distEng = new QueryEngine(spark, dir, 4, driverWandMaxSegments = 0)
    Deletes.delete(spark, dir, Seq(3L, 17L))
    Seq(eng.searchWand("*:*", 40), distEng.searchWand("*:*", 40),
        eng.searchExhaustive("*:*", 40)).foreach { df =>
      val ids = df.collect().map(_.getLong(0)).toSeq
      assert(ids == (0L until 40L).filterNot(Set(3L, 17L)), s"got $ids")
    }
    assert(eng.deleteAllByQuery("*:*", pageSize = 7) == 38L)
    eng.invalidateCache()
    assert(eng.search("*:*", 100).collect().isEmpty)
    // *:* composes with nothing inline — constraints belong in fq
    Seq("*:* AND w00017", "w00017 OR *:*", "NOT *:*", "lang:en *:*")
      .foreach { q =>
        intercept[IllegalArgumentException](
          graft.query.QueryParser.parse(q))
      }
  }

  test("explain: per-term breakdown sums bit-identically to the hit score (r5)") {
    val qs = Seq("w00017 w00342", "the w00017", "w0099* the",
      "title:doc w00017", "w00017^2 OR w00342", "\"of the\"~2 w00017",
      "w00017~1 the", "lang:no AND w00099")
    qs.foreach { q =>
      val hits = engine.search(q, 3).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(hits.nonEmpty, s"degenerate explain fixture '$q'")
      hits.foreach { case (id, score) =>
        val ex = engine.explain(q, id)
        assert(ex.nonEmpty, s"[$q docId=$id]")
        assert(ex.map(_.term) == ex.map(_.term).sorted)
        // the left-fold over term-ascending entries IS the engine's
        // summation order — exact equality, not a tolerance
        assert(ex.map(_.score).sum == score,
          s"[$q docId=$id] ${ex.map(_.score).sum} != $score\n$ex")
        ex.foreach { e =>
          assert(e.df == oracle.df(e.term), s"[$q] df of ${e.term}")
          assert(e.idf == BM25.idf(engine.stats.n, e.df))
          val avg = if (e.term.startsWith("title:")) engine.stats.titleAvgdl
            else engine.stats.avgdl
          assert(e.score == BM25.score(e.tf, e.dl, avg, e.idf * e.boost))
        }
      }
    }
    // boosts surface in the breakdown, not hidden inside idf
    val boosted = engine.explain("w00017^2 OR w00342",
      engine.search("w00017", 1).collect().head.getLong(0))
    assert(boosted.find(_.term == "w00017").exists(_.boost == 2.0))
    // match-all explains as the constant score
    assert(engine.explain("*:*", 5L) ==
      Seq(QueryEngine.ExplainEntry("*:*", 0, 0, 0L, 1.0, 1.0, 1.0)))
  }

  test("countMatches: the Solr rows=0 numFound idiom equals oracle (r5)") {
    Seq(("the", Nil), ("w00017", Nil), ("the", Seq("lang:no")),
        ("w00017 AND w00342", Nil), ("*:*", Nil), ("*:*", Seq("w00017")))
      .foreach { case (q, fq: Seq[String]) =>
        val exp = oracle.topK(q, NDocs.toInt, fq = fq).size.toLong
        assert(engine.countMatches(q, fq = fq) == exp,
          s"numFound '$q' fq=$fq")
      }
    assert(engine.countMatches("*:*") == NDocs)
    assert(engine.countMatches("zzznosuchterm") == 0L)
  }

  test("facet counts over all matches equal oracle") {
    Seq("w00017", "the", "lang:no AND w00099", "*:*").foreach { q =>
      val got = engine.facet(q, "lang").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val expect = oracle.facet(q, "lang")
      assert(got == expect, s"facet q='$q'\n got=$got\n exp=$expect")
    }
    // facet.limit cuts AFTER the (count desc, value asc) order;
    // facet.mincount drops sparse values BEFORE the cut (both twins)
    val full = oracle.facet("the", "lang")
    assert(full.size >= 2, "degenerate facet knob fixture")
    val limited = engine.facet("the", "lang", topN = 1).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(limited == full.take(1))
    val minC = full.head._2 // only the biggest value survives
    val sparse = engine.facet("the", "lang", minCount = minC).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sparse == oracle.facet("the", "lang", minCount = minC))
    assert(sparse.size < full.size && sparse.nonEmpty)
    intercept[IllegalArgumentException](
      engine.facet("the", "lang", minCount = 0))
  }

  test("facet.prefix and facet.sort=index knobs match the oracle twin") {
    // *:* matches every live doc, so all three synthetic langs (en/no/de)
    // appear — the knobs provably bite
    val q = "*:*"
    val full = oracle.facet(q, "lang")
    assert(full.size == 3, s"degenerate lang fixture: $full")
    // facet.prefix restricts the counted values (n → no only)
    val pref = engine.facet(q, "lang", prefix = Some("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(pref == oracle.facet(q, "lang", prefix = Some("n")))
    assert(pref.nonEmpty && pref.forall(_._1.startsWith("n")))
    assert(pref.size < full.size, "prefix must bite")
    // facet.sort=index orders lexically (de < en < no), not by count
    val idx = engine.facet(q, "lang", sortIndex = true).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(idx == oracle.facet(q, "lang", sortIndex = true))
    assert(idx == idx.sortBy(_._1) && idx.toSet == full.toSet)
    assert(idx != full, "index order must differ from count order here")
    // the limit cuts in the CHOSEN order: limit=1 under sort=index keeps
    // the lexically-first value (de), under count order the biggest (en)
    val idx1 = engine.facet(q, "lang", topN = 1, sortIndex = true).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(idx1 == oracle.facet(q, "lang", sortIndex = true).take(1))
    assert(idx1.head._1 != full.head._1,
      "the two sorts cut different value SETS at limit=1")
    // prefix composes with fq (and the oracle twin agrees)
    val both = engine.facet("the", "lang", fq = Seq("w00017"),
      prefix = Some("e")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(both ==
      oracle.facet("the", "lang", Seq("w00017"), prefix = Some("e")))
    // facet.offset pages values in the CHOSEN order (count and index)
    Seq(false, true).foreach { si =>
      val paged = engine.facet(q, "lang", topN = 2, sortIndex = si,
        offset = 1).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val exp = oracle.facet(q, "lang", sortIndex = si, offset = 1).take(2)
      assert(paged == exp, s"facet.offset sortIndex=$si")
      assert(paged ==
        oracle.facet(q, "lang", sortIndex = si).slice(1, 3),
        s"offset+limit ≡ slice of the full list (sortIndex=$si)")
    }
    intercept[IllegalArgumentException](
      engine.facet(q, "lang", offset = -1))
  }

  test("/export analog: full match set, range-partitioned sort, no top-k") {
    val q = "the"
    val out = engine.exportMatches(q, Seq("url", "lang"), "url")
    // content = EVERY match (not a page), ordered (url asc, docId asc)
    val got = out.collect().map(_.getLong(0)).toSeq
    val expIds = oracle.topKSorted(q, "url", ascending = true, NDocs.toInt)
    assert(expIds.size > 10, "degenerate export fixture")
    assert(got == expIds, "export must be the FULL sorted match set")
    // physical shape: a range-partitioned distributed sort (disjoint
    // output ranges = streamable files), NOT the top-k heap search uses
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("rangepartitioning"), plan)
    // write + read back: same doc set lands in the parquet export
    val dir = SparkTestSession.tempDir("graft-export")
    out.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == expIds.size)
    assert(back.columns.toSeq == Seq("docId", "url", "lang"))
    assert(back.select("docId").collect().map(_.getLong(0)).sorted.toSeq ==
      expIds.sorted)
    // desc order, fq, and qOp thread through like everywhere else
    val ids2 = engine.exportMatches(q, Seq("lang"), "warc_ts",
      ascending = false, fq = Seq("w00017")).collect()
      .map(_.getLong(0)).toSeq
    assert(ids2 == oracle.topKSorted(q, "warc_ts", ascending = false,
      NDocs.toInt, fq = Seq("w00017")))
    // /export cannot return non-stored fields and cannot sort by score
    intercept[IllegalArgumentException](
      engine.exportMatches(q, Seq("html"), "url"))
    intercept[IllegalArgumentException](
      engine.exportMatches(q, Seq("url"), "score"))
  }

  test("stats percentiles: exact interpolated points match the oracle") {
    val ps = Seq(50.0, 90.0, 99.0, 12.5)
    Seq("the", "w00017", "*:*").foreach { q =>
      val row = engine.statsField(q, "doclen", percentiles = ps)
        .collect().head
      val exp = oracle.statsPercentiles(q, "doclen", ps).get
      ps.indices.foreach { i =>
        assert(row.getDouble(5 + i) == exp(i),
          s"q=$q p=${ps(i)}: got ${row.getDouble(5 + i)} exp ${exp(i)}")
      }
    }
    // column naming: p50 / p12_5; fq + qOp thread through as everywhere
    val named = engine.statsField("the", "doclen", percentiles = ps)
    assert(named.columns.takeRight(4).toSeq ==
      Seq("p50", "p90", "p99", "p12_5"))
    val both = engine.statsField("the w00017", "doclen", fq = Seq("the"),
      qOp = "AND", percentiles = Seq(50.0)).collect().head
    assert(both.getDouble(5) == oracle.statsPercentiles("the w00017",
      "doclen", Seq(50.0), fq = Seq("the"), qOp = "AND").get.head)
    // empty match set: percentile columns are null like min/max
    val empty = engine.statsField("zzznosuchterm", "doclen",
      percentiles = Seq(50.0)).collect().head
    assert(empty.getLong(0) == 0L && empty.isNullAt(5))
    // stats.calcdistinct (r5): exact distinct count, appended AFTER the
    // percentiles so the base schema positions never move
    Seq("the", "w00017", "*:*").foreach { q =>
      val row = engine.statsField(q, "doclen", percentiles = Seq(50.0),
        calcDistinct = true).collect().head
      assert(row.getLong(6) == oracle.statsDistinct(q, "doclen"),
        s"calcdistinct q=$q")
    }
    val cd = engine.statsField("the", "titleLen", fq = Seq("w00017"),
      calcDistinct = true)
    assert(cd.columns.last == "countDistinct")
    assert(cd.collect().head.getLong(5) ==
      oracle.statsDistinct("the", "titleLen", fq = Seq("w00017")))
    intercept[IllegalArgumentException](
      engine.statsField("the", "doclen", percentiles = Seq(0.0)))
    intercept[IllegalArgumentException](
      engine.statsField("the", "doclen", percentiles = Seq(100.0)))
  }

  test("group.ngroups equals the oracle distinct group count") {
    Seq("the", "w00017", "*:*").foreach { q =>
      assert(engine.countGroups(q, "lang") == oracle.ngroups(q, "lang"),
        s"ngroups lang q=$q")
      assert(engine.countGroups(q, "url") == oracle.ngroups(q, "url"),
        s"ngroups url q=$q")
    }
    // fq and q.op thread through like every other match-set consumer
    assert(engine.countGroups("the w00017", "lang", qOp = "AND") ==
      oracle.ngroups("the w00017", "lang", qOp = "AND"))
    assert(engine.countGroups("the", "url", fq = Seq("w00017")) ==
      oracle.ngroups("the", "url", fq = Seq("w00017")))
    assert(engine.countGroups("zzznosuchterm", "lang") == 0L)
    intercept[IllegalArgumentException](engine.countGroups("the", "doclen"))
  }

  test("facet resolves the query against the caller's df, like search") {
    // every synthetic title is "doc <i>", so 'doc' under df=title matches
    // all docs while under df=text it matches only bodies containing it —
    // facet counts must agree with the SAME df the printed hits used
    val titleMatches = engine.facet("doc", "lang", df = "title").collect()
      .map(_.getLong(1)).sum
    assert(titleMatches == engine.stats.n,
      s"df=title 'doc' should facet over every live doc, got $titleMatches")
    val textMatches = engine.facet("doc", "lang", df = "text").collect()
      .map(_.getLong(1)).sum
    assert(textMatches < titleMatches,
      "df must change the match set facet counts over")
  }

  test("phrase-free facet plan has no UDF and no positions column") {
    // VERDICT r4 #4: facet routes production queries through the exhaustive
    // match set; without a phrase in the query, that plan must stay fully
    // codegen'd — no positions materialization, no clause UDF, no
    // collect_list of (term, positions) structs
    val plan = engine.facet("w00017 AND w00342", "lang")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("positions"), "positions column leaked into plan")
    assert(!plan.contains("tps"), "UDF-path tps collection leaked into plan")
    assert(!plan.toLowerCase.contains("batchevalpython"))
    // the phrase form still matches the same docs via the UDF path
    val phrasePlan = engine.facet("\"the of\"", "lang")
      .queryExecution.executedPlan.toString
    assert(phrasePlan.contains("tps"), "phrase facet should use the UDF path")
  }

  test("k larger than hit count returns all hits") {
    val q = "w49998"
    val expect = oracle.topK(q, 10000)
    val got = engine.search(q, 10000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assertRankIdentical(got, expect, "large-k")
  }

  test("deletes: tombstoned docs vanish from results (all paths)") {
    val dir = SparkTestSession.tempDir("graft-del")
    val docs = CorpusGen.generate(spark, 200)
    IndexBuilder.build(spark, docs, dir, IndexConf(numBuckets = 4))
    val eng = new QueryEngine(spark, dir, 4)
    val distEng = new QueryEngine(spark, dir, 4, driverWandMaxSegments = 0)
    val before = eng.search("the", 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(before.nonEmpty)
    val victim = before.head._1
    Deletes.delete(spark, dir, Seq(victim))
    val afterW = eng.searchWand("the", 10).collect().map(_.getLong(0))
    val afterD = distEng.searchWand("the", 10).collect().map(_.getLong(0))
    val afterE = eng.searchExhaustive("the", 10).collect().map(_.getLong(0))
    assert(!afterW.contains(victim))
    assert(!afterD.contains(victim))
    assert(!afterE.contains(victim))
    assert(afterW.toSeq == afterE.toSeq)
    assert(afterW.toSeq == afterD.toSeq)
  }

  test("df= default-field parameter: indexed fields accepted, others rejected") {
    assert(graft.query.QueryParser.parse("w00017", "text") != null)
    assert(graft.query.QueryParser.parse("doc", "title") != null)
    intercept[IllegalArgumentException] {
      graft.query.QueryParser.parse("w00017", "mmd_title")
    }
  }

  test("df=title routes bare terms to the title field (rank-identical)") {
    val expect = oracle.topK("doc", 10, df = "title")
    val got = engine.search("doc", 10, df = "title")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assertRankIdentical(got, expect, "df=title")
    // and equals the explicit field form
    val explicit = engine.search("title:doc", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assertRankIdentical(explicit, expect, "title: explicit")
    assert(expect.nonEmpty)
  }

  test("edismax qf: multi-field weighted terms rank-identical across all paths (r5)") {
    val qf = Seq("text" -> 1.0, "title" -> 3.0)
    val distEngine = new QueryEngine(spark, indexDir, conf.numBuckets,
      driverWandMaxSegments = 0)
    // bare terms fan out per field; explicit fields, phrases, prefixes and
    // groups keep their own resolution (qf applies to unqualified plain
    // terms only, like edismax's qf vs the lucene-syntax passthrough)
    val qs = Seq(
      "doc",                 // title-only token reached via qf
      "w00017 doc",          // one field-private + one fanned token
      "doc AND w00017",      // MUST over a multi-field slot
      "doc^2 w00017",        // user boost multiplies the field weight
      "title:9 doc",         // explicit field wins over qf
      "\"the of\" doc",      // phrase terms stay on df
      "w0001* doc",          // prefix stays on the resolved field
      "9 NOT w00342",        // fanned token + negation
      "title:(doc 9) w00017" // field-group scope wins over qf
    )
    for (q <- qs; qOp <- Seq("OR", "AND")) {
      val expect = oracle.topK(q, 10, qOp = qOp, qf = qf)
      val wand = engine.searchWand(q, 10, qOp = qOp, qf = qf)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val dist = distEngine.searchWand(q, 10, qOp = qOp, qf = qf)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val exh = engine.searchExhaustive(q, 10, qOp = qOp, qf = qf)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assertRankIdentical(wand, expect, s"qf WAND-driver q='$q' qOp=$qOp")
      assertRankIdentical(dist, expect, s"qf WAND-dist q='$q' qOp=$qOp")
      assertRankIdentical(exh, expect, s"qf EXH q='$q' qOp=$qOp")
    }
    // different weights change the ranking arithmetic, not just the labels
    val qf2 = Seq("text" -> 0.5, "title" -> 2.0)
    val e1 = oracle.topK("doc w00017", 10, qf = qf)
    val e2 = oracle.topK("doc w00017", 10, qf = qf2)
    assert(e1.map(_._2) != e2.map(_._2), "weights must reach the scores")
    val g2 = engine.search("doc w00017", 10, qf = qf2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assertRankIdentical(g2, e2, "qf weights")
    // qf=text^1 alone ≡ no qf (the default field IS the one qf field)
    assertRankIdentical(
      engine.search("w00017 w00342", 10, qf = Seq("text" -> 1.0))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      oracle.topK("w00017 w00342", 10), "qf=text^1 ≡ default")
    // match-set consumers take qf through the same parse seam — engine
    // consumer vs oracle twin on a title-reaching fanned token (review
    // r5: the oracle's candidatesFq seam must carry qf too, or consumer
    // regressions in the MultiLit match set are invisible)
    assert(engine.countMatches("doc", qf = qf) ==
      oracle.topK("doc", NDocs.toInt, qf = qf).size.toLong)
    assert(engine.facet("doc AND w00017", "lang", qf = qf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      oracle.facet("doc AND w00017", "lang", qf = qf))
    assert(engine.searchSorted("doc AND w00017", "warc_ts",
      ascending = false, 10, qf = qf).collect().map(_.getLong(0)).toSeq ==
      oracle.topKSorted("doc AND w00017", "warc_ts", ascending = false, 10,
        qf = qf))
    val sRow = engine.statsField("doc AND w00017", "doclen", qf = qf)
      .collect().head
    assert((sRow.getLong(0), sRow.getLong(1), sRow.getLong(2),
      sRow.getLong(3), sRow.getDouble(4)) ==
      oracle.statsField("doc AND w00017", "doclen", qf = qf).get)
    assert(engine.countGroups("doc AND w00017", "lang", qf = qf) ==
      oracle.ngroups("doc AND w00017", "lang", qf = qf))
    // explain: per-term entries sum bit-identically to the qf-scored hit
    val top = engine.search("doc AND w00017", 10, qf = qf).collect()
    assert(top.nonEmpty)
    val entries = engine.explain("doc AND w00017", top.head.getLong(0), qf = qf)
    assert(entries.map(_.score).foldLeft(0.0)(_ + _) == top.head.getDouble(1))
    // the fanned token shows up under its per-field postings keys
    assert(entries.exists(_.term == "title:doc"),
      s"qf explain terms: ${entries.map(_.term)}")
    // parse-time gate: unknown field, duplicate field, non-positive weight
    import graft.query.QueryParser
    intercept[IllegalArgumentException](
      QueryParser.parse("a", qf = Seq("body" -> 1.0)))
    intercept[IllegalArgumentException](
      QueryParser.parse("a", qf = Seq("text" -> 1.0, "text" -> 2.0)))
    intercept[IllegalArgumentException](
      QueryParser.parse("a", qf = Seq("title" -> 0.0)))
  }

  test("edismax tie: per-token best-field scoring across paths (r5)") {
    // the shared corpus has disjoint text/title vocabularies, so tie can
    // never bite there — build one where tokens live in BOTH fields
    def mk(i: Int, text: String, title: String): WebDoc =
      WebDoc(f"https://t.example.org/$i%03d",
        new java.sql.Timestamp(1704067200000L + i * 1000L),
        (s"<html><head><title>$title</title></head><body>$text</body>" +
          "</html>").getBytes(UTF_8), text, "en")
    val corpus = Seq(
      mk(0, "alpha beta gamma", "alpha delta"),
      mk(1, "alpha alpha beta", "gamma"),
      mk(2, "beta delta", "alpha beta"),
      mk(3, "gamma gamma alpha", "alpha gamma"),
      mk(4, "delta epsilon", "zeta"))
    val dir = SparkTestSession.tempDir("graft-tie")
    IndexBuilder.build(spark, spark.createDataset(corpus), dir,
      IndexConf(numBuckets = 4))
    val eng = new QueryEngine(spark, dir, 4)
    val distEng = new QueryEngine(spark, dir, 4, driverWandMaxSegments = 0)
    val orc = new SeqOracle(corpus.sortBy(_.url).zipWithIndex.map {
      case (d, i) => OracleDoc(i.toLong, d.text, d.lang, d.url,
        d.warc_ts.getTime, graft.corpus.Extractor.extractTitle(d.html))
    })
    val qf = Seq("text" -> 1.0, "title" -> 2.0)
    for (q <- Seq("alpha", "alpha beta", "alpha AND gamma", "alpha^2 delta",
           "alpha NOT zeta", "title:alpha alpha");
         tie <- Seq(0.0, 0.3, 1.0)) {
      val expect = orc.topK(q, 10, qf = qf, tie = tie)
      assert(expect.nonEmpty, s"dead tie case q='$q'")
      val ctx = s"q='$q' tie=$tie"
      def got(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assertRankIdentical(got(eng.searchWand(q, 10, qf = qf, tie = tie)),
        expect, s"tie driver $ctx")
      assertRankIdentical(got(distEng.searchWand(q, 10, qf = qf, tie = tie)),
        expect, s"tie dist $ctx")
      assertRankIdentical(
        got(eng.searchExhaustive(q, 10, qf = qf, tie = tie)),
        expect, s"tie exh $ctx")
    }
    // tie reaches the arithmetic: max(0) < damped(0.3) < sum(1) on a doc
    // holding the token in both fields, and the interpolation identity
    // score(t) = max + t*(sum-max) holds per doc
    def byId(tie: Double): Map[Long, Double] =
      orc.topK("alpha", 10, qf = qf, tie = tie).toMap
    val (s0, s3, s1) = (byId(0.0), byId(0.3), byId(1.0))
    val both = Seq(0L, 3L) // alpha in text AND title of docs 0 and 3
    both.foreach { id =>
      assert(s0(id) < s3(id) && s3(id) < s1(id), s"doc $id tie ordering")
      val interp = s0(id) + 0.3 * (s1(id) - s0(id))
      assert(math.abs(s3(id) - interp) < 1e-9, s"doc $id interpolation")
    }
    // single-field docs are tie-invariant
    assert(s0(1L) == s1(1L) && s0(1L) == s3(1L))
    // explain entries carry the factors: their fold-sum IS the hit score
    val top = eng.searchWand("alpha", 10, qf = qf, tie = 0.3).collect()
    val byDoc = top.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    both.foreach { id =>
      val es = eng.explain("alpha", id, qf = qf, tie = 0.3)
      assert(es.map(_.score).foldLeft(0.0)(_ + _) == byDoc(id),
        s"explain fold doc $id")
      assert(es.size == 2)
    }
    // parse gate: tie outside [0,1] rejects
    import graft.query.QueryParser
    intercept[IllegalArgumentException](
      QueryParser.parse("a", qf = Seq("text" -> 1.0), tie = 1.5))
    intercept[IllegalArgumentException](
      QueryParser.parse("a", qf = Seq("text" -> 1.0), tie = -0.1))
  }

  test("prefix query expands against the dictionary (capped, deterministic)") {
    // w0099* expands to w00990..w00999 in this corpus; rank-identical above.
    // A prefix matching nothing must yield empty, not error.
    assert(engine.search("zzz*", 10).collect().isEmpty)
    assert(oracle.topK("zzz*", 10).isEmpty)
    // text-field prefixes must not leak field-qualified keys: "t*" would
    // otherwise swallow every "title:..." posting key
    val tPrefix = engine.search("t*", 10).collect().map(_.getLong(0)).toSeq
    assert(tPrefix == oracle.topK("t*", 10).map(_._1))
  }

  test("over-cap prefix + deletes: bounded divergence window, compaction restores exact agreement (ADVICE r3)") {
    import graft.query.QueryResolve
    val cap = QueryResolve.MaxPrefixExpansion // 512
    val nDocs = cap + 60
    def mk(i: Int): WebDoc = {
      val text = f"px$i%04d filler common words"
      WebDoc(f"https://x.example.org/$i%04d",
        new java.sql.Timestamp(1704067200000L),
        s"<html><head><title>t</title></head><body>$text</body></html>"
          .getBytes(UTF_8), text, "en")
    }
    val corpus = (0 until nDocs).map(mk)
    val dir = SparkTestSession.tempDir("graft-prefix-del")
    val c = IndexConf(numBuckets = 4)
    IndexBuilder.build(spark, spark.createDataset(corpus), dir, c)
    val eng = new QueryEngine(spark, dir, 4)
    // delete the doc holding px0000 — the lexicographically FIRST term of
    // the over-cap px* expansion; urls sort like doc numbers, so docId 0
    Deletes.delete(spark, dir, Seq(0L))
    eng.invalidateCache()

    // pre-compaction: the dead term px0000 still occupies an expansion slot
    // (raw dictionary), so the capped set is px0000..px0511 and the doc of
    // px0512 — which a live-corpus view would include — is not reachable
    val pre = eng.search("px*", nDocs).collect().map(_.getLong(0)).toSet
    assert(pre == (1 until cap).map(_.toLong).toSet,
      s"pre-compaction window: expected docs 1..${cap - 1}")

    // compaction drops dead terms from the dictionary → exact agreement
    // with the oracle over the live corpus
    Compaction.run(spark, dir, c)
    eng.invalidateCache()
    val liveOracle = new SeqOracle(corpus.zipWithIndex.collect {
      case (d, i) if i != 0 =>
        OracleDoc(i.toLong, d.text, d.lang, d.url, d.warc_ts.getTime)
    })
    val post = eng.search("px*", nDocs).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expect = liveOracle.topK("px*", nDocs)
    assertRankIdentical(post, expect, "post-compaction px*")
    assert(post.map(_._1).toSet == (1 to cap).map(_.toLong).toSet)
  }

  test("parser rejects malformed round-3 surface") {
    import graft.query.QueryParser
    intercept[IllegalArgumentException](QueryParser.parse("NOT w00017"))
    intercept[IllegalArgumentException](QueryParser.parse("w1 OR NOT w2"))
    intercept[IllegalArgumentException](QueryParser.parse("-\"the of\""))
    intercept[IllegalArgumentException](
      QueryParser.parse("warc_ts:[not-a-date TO *] w00017"))
  }

  test("parser fails loudly on unimplemented Lucene syntax (round 4)") {
    import graft.query.QueryParser
    // each marker used to tokenize away into a silently-different query.
    // fuzzy and general wildcards were promoted to real surfaces in r5
    // (FuzzySpec, WildcardSpec); only malformed forms stay loud
    intercept[IllegalArgumentException](QueryParser.parse("roam~3"))  // cap
    intercept[IllegalArgumentException](QueryParser.parse("roam~0.8")) // float
    intercept[IllegalArgumentException](QueryParser.parse("ro~am"))   // infix
    intercept[IllegalArgumentException](QueryParser.parse("*"))       // no literal
    intercept[IllegalArgumentException](QueryParser.parse("te?t~1"))  // combo
    intercept[IllegalArgumentException](QueryParser.parse("\"a b\"~x")) // bad slop
    // url filter values keep raw characters (a '?' in a url is legitimate)
    assert(QueryParser.parse("url:h/p?q=1 w00017").urlFilter
      .contains("h/p?q=1"))
  }

  test("parser round-5 regressions: leftover input, NOT NOT, filter sign") {
    import graft.query.{QueryParser, ExactLit}
    // a stray top-level ')' used to silently DROP everything after it
    intercept[IllegalArgumentException](QueryParser.parse("a) OR b"))
    intercept[IllegalArgumentException](QueryParser.parse("w1)"))
    // unclosed-at-end stays tolerated (never dropped input)
    assert(QueryParser.parse("(w1 OR w2").clauses.nonEmpty)
    // NOT used to latch instead of toggle: "NOT NOT a" ran as "-a"
    val dn = QueryParser.parse("NOT NOT w1")
    assert(dn.clauses.length == 1 &&
      dn.clauses.head.pos == Seq(ExactLit("w1")) &&
      dn.clauses.head.neg.isEmpty)
    // "-lang:en" used to DROP the '-' and filter TO lang=en
    intercept[IllegalArgumentException](QueryParser.parse("w1 -lang:en"))
    // ...and a filter inside a NEGATED GROUP leaked the same way: the inner
    // parse registered lang=en globally while the '-' applied only to the
    // group's terms (r5 review) — reject at any nesting depth
    intercept[IllegalArgumentException](QueryParser.parse("b -(lang:en a)"))
    intercept[IllegalArgumentException](QueryParser.parse("b NOT (a url:x)"))
    intercept[IllegalArgumentException](QueryParser.parse(
      "b -(a (c warc_ts:[2024-01-01T00:00:00Z TO *]))"))
    // positive controls: un-negated groups still carry filters; negated
    // groups without filters still parse
    assert(QueryParser.parse("b (lang:en a)").langFilter.contains("en"))
    assert(QueryParser.parse("b -(a c)").clauses.nonEmpty)
    intercept[IllegalArgumentException](QueryParser.parse("w1 NOT url:x"))
    intercept[IllegalArgumentException](
      QueryParser.parse("w1 -warc_ts:[2020-01-01T00:00:00Z TO *]"))
    // '+' on a filter is a harmless restatement and stays allowed
    assert(QueryParser.parse("w1 +lang:en").langFilter.contains("en"))
  }

  test("field-grouped queries: title:(a b) scopes unqualified terms (r5)") {
    import graft.query.{QueryParser, ExactLit, PrefixLit, FuzzyLit}
    // group field applies to every unqualified term (used to reject)
    assert(QueryParser.parse("title:(w1 w2)").scoringLits ==
      Seq(ExactLit("title:w1"), ExactLit("title:w2")))
    // ...through operators, and an explicit field wins over the scope
    val m = QueryParser.parse("title:(w1 AND text:w2 OR w3)")
    assert(m.scoringLits.toSet ==
      Set(ExactLit("title:w1"), ExactLit("w2"), ExactLit("title:w3")))
    // nested plain parens inherit; multi-term literals qualify too
    assert(QueryParser.parse("title:(w1 (w2 w3))").scoringLits.toSet ==
      Set(ExactLit("title:w1"), ExactLit("title:w2"), ExactLit("title:w3")))
    assert(QueryParser.parse("title:(w0* w1~1)").scoringLits.toSet ==
      Set(PrefixLit("title:w0"), FuzzyLit("title:w1", 1)))
    // scope ENDS at the group
    assert(QueryParser.parse("title:(w1) w2").scoringLits ==
      Seq(ExactLit("title:w1"), ExactLit("w2")))
    // filter fields inside a group stay global filters (explicit field)
    assert(QueryParser.parse("title:(w1 lang:en)").langFilter.contains("en"))
    // grouped FILTER fields reject: lang:(en no) is an OR the single-valued
    // global filter cannot express — last-wins would invert the request
    intercept[IllegalArgumentException](QueryParser.parse("lang:(en no)"))
    intercept[IllegalArgumentException](QueryParser.parse("url:(a b)"))
    intercept[IllegalArgumentException](QueryParser.parse("foo:(a b)"))
    // group boosts (a b)^2 / title:(...)^0.5 — per-distinct-literal MAX,
    // phrases inside boost their terms, NOT-terms are unscored → unboosted
    assert(QueryParser.parse("(w1 w2)^2").boosts ==
      Map(ExactLit("w1") -> 2.0, ExactLit("w2") -> 2.0))
    assert(QueryParser.parse("title:(w1 \"w2 w3\")^0.5").boosts ==
      Map(ExactLit("title:w1") -> 0.5, ExactLit("title:w2") -> 0.5,
        ExactLit("title:w3") -> 0.5))
    // Lucene nesting: group boost MULTIPLIES inner occurrence boosts;
    // NOT-side occurrences never score and stay unboosted
    assert(QueryParser.parse("(w1^5 w2 NOT w3)^2").boosts ==
      Map(ExactLit("w1") -> 10.0, ExactLit("w2") -> 2.0))
    // nested groups compose multiplicatively; MAX applies across distinct
    // occurrences of one literal elsewhere in the query
    assert(QueryParser.parse("((w1^2)^3 w2)^2").boosts ==
      Map(ExactLit("w1") -> 12.0, ExactLit("w2") -> 2.0))
    assert(QueryParser.parse("w1^5 (w1 w2)^2").boosts ==
      Map(ExactLit("w1") -> 5.0, ExactLit("w2") -> 2.0))
    intercept[IllegalArgumentException](QueryParser.parse("(w1 w2)^x"))
  }

  test("term ranges: bracket grammar, scoping, rejection (r5)") {
    import graft.query.{QueryParser, QueryResolve, TermRangeLit, ExactLit}
    // inclusive / exclusive / mixed brackets, open ends, lowercase bounds
    assert(QueryParser.parse("text:[aa TO ab]").scoringLits ==
      Seq(TermRangeLit("", Some("aa"), Some("ab"), true, true)))
    assert(QueryParser.parse("title:{D TO e}").scoringLits ==
      Seq(TermRangeLit("title:", Some("d"), Some("e"), false, false)))
    assert(QueryParser.parse("text:[aa TO ab}").scoringLits ==
      Seq(TermRangeLit("", Some("aa"), Some("ab"), true, false)))
    assert(QueryParser.parse("text:[* TO ab}").scoringLits ==
      Seq(TermRangeLit("", None, Some("ab"), true, false)))
    // boost folds like every other multi-term literal
    assert(QueryParser.parse("text:[aa TO ab]^2").boosts ==
      Map(TermRangeLit("", Some("aa"), Some("ab"), true, true) -> 2.0))
    // a field group scopes an unqualified range
    assert(QueryParser.parse("title:([1 TO 2] doc)").scoringLits.toSet ==
      Set(TermRangeLit("title:", Some("1"), Some("2"), true, true),
        ExactLit("title:doc")))
    // exclusive bounds reach stored-field filters
    val f = QueryParser.parse("w1 url:[a TO b}").rangeFilters.head
    assert(!f.incHi && f.incLo && f.field == "url")
    // rejections: no field, [* TO *], non-token bounds, unknown field,
    // boost on a filter range
    intercept[IllegalArgumentException](QueryParser.parse("[a TO b]"))
    intercept[IllegalArgumentException](QueryParser.parse("text:[* TO *]"))
    // unclosed range rejects loudly: with `}` closers in the grammar, the
    // old inclusive tolerance would silently flip `[` to exclusive-hi
    intercept[IllegalArgumentException](QueryParser.parse("text:[a TO b"))
    intercept[IllegalArgumentException](QueryParser.parse("text:[a! TO b]"))
    intercept[IllegalArgumentException](QueryParser.parse("foo:[a TO b]"))
    intercept[IllegalArgumentException](
      QueryParser.parse("w1 warc_ts:[2024-01-01T00:00:00Z TO *]^2"))
    // the dict twin honors field scoping, bounds, exclusivity, and the cap
    val dict = Seq("aa", "ab", "ac", "title:aa", "title:ab")
    assert(QueryResolve.dictExpander(dict).range("", Some("aa"), Some("ab"),
      true, true) == Seq("aa", "ab"))
    assert(QueryResolve.dictExpander(dict).range("", Some("aa"), Some("ac"),
      false, false) == Seq("ab"))
    assert(QueryResolve.dictExpander(dict).range("title:", Some("aa"), None,
      false, true) == Seq("title:ab"))
  }

  test("searchSorted: stored-field order matches oracle, both directions (r5)") {
    val qs = Seq("w00017", "the", "w00017 AND w00342", "w0099*",
      "lang:no AND w00099", "*:*")
    val fields = Seq("warc_ts" -> true, "warc_ts" -> false, "url" -> true,
      "lang" -> false, "doclen" -> false, "titleLen" -> true)
    for (q <- qs; (f, asc) <- fields) {
      val got = engine.searchSorted(q, f, asc, 10)
        .collect().map(_.getLong(0)).toSeq
      val exp = oracle.topKSorted(q, f, asc, 10)
      assert(got == exp, s"[$q sort=$f asc=$asc]\n got=$got\n exp=$exp")
    }
    // only stored docs columns sort; score order is the default search
    intercept[IllegalArgumentException](
      engine.searchSorted("w1", "text", ascending = true, 5))
    // compound sort (r5): per-key direction + docId tiebreak vs the
    // oracle's stable composite ordering. lang has 2 values and doclen
    // collides often, so the secondary/tertiary keys genuinely decide.
    val multis = Seq(
      Seq("lang" -> true, "warc_ts" -> false),
      Seq("lang" -> false, "doclen" -> true, "warc_ts" -> true),
      Seq("doclen" -> false, "url" -> true))
    for (q <- qs; m <- multis) {
      val got = engine.searchSortedMulti(q, m, 10)
        .collect().map(_.getLong(0)).toSeq
      val exp = oracle.topKSortedMulti(q, m, 10)
      assert(got == exp, s"[$q multisort=$m]\n got=$got\n exp=$exp")
    }
    // a multi-key page must differ from its primary key alone somewhere
    // (otherwise the secondary key was never exercised)
    assert(multis.exists(m => oracle.topKSortedMulti("the", m, 10) !=
      oracle.topKSorted("the", m.head._1, m.head._2, 10)))
    intercept[IllegalArgumentException](
      engine.searchSortedMulti("w1", Seq("lang" -> true, "lang" -> false), 5))
    intercept[IllegalArgumentException](
      engine.searchSortedMulti("w1", Nil, 5))
  }

  test("facetRange: hour buckets over the match set equal oracle (r5)") {
    for (q <- Seq("the", "w00017", "lang:no AND the", "*:*")) {
      val got = engine.facetRange(q, "2024-01-01T00:00:00Z",
          "2024-01-02T00:00:00Z", 3600)
        .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSeq
      val exp = oracle.facetRange(q, "2024-01-01T00:00:00Z",
        "2024-01-02T00:00:00Z", 3600)
      assert(got == exp, s"[$q facet.range]\n got=$got\n exp=$exp")
      assert(got.nonEmpty, s"[$q] degenerate fixture: no buckets")
    }
    intercept[IllegalArgumentException](
      engine.facetRange("the", "2024-01-01T00:00:00Z",
        "2024-01-01T00:00:00Z", 3600)) // empty interval
    // numeric facet.range (r5): same bucketing over doclen/titleLen
    for (q <- Seq("the", "w00017", "*:*");
         (f, lo, hi, gap) <- Seq(("doclen", 0L, 2000L, 100L),
           ("titleLen", 0L, 4L, 1L))) {
      val got = engine.facetRangeNumeric(q, f, lo, hi, gap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val exp = oracle.facetRangeNumeric(q, f, lo, hi, gap)
      assert(got == exp, s"[$q facet.range $f]\n got=$got\n exp=$exp")
      assert(got.nonEmpty, s"[$q $f] degenerate fixture: no buckets")
    }
    // off-grid start: bucket starts derive from start, not from zero
    assert(engine.facetRangeNumeric("the", "doclen", 37, 1037, 250)
      .collect().map(_.getLong(0)).toSeq ==
      oracle.facetRangeNumeric("the", "doclen", 37, 1037, 250).map(_._1))
    intercept[IllegalArgumentException](
      engine.facetRangeNumeric("the", "warc_ts", 0, 10, 1))
    intercept[IllegalArgumentException](
      engine.facetRangeNumeric("the", "doclen", 0, 10, 0))
  }

  test("statsField: match-set numeric stats equal oracle (r5)") {
    for (q <- Seq("the", "w00017", "w00017 AND w00342", "lang:no AND the",
           "*:*");
         f <- Seq("doclen", "titleLen")) {
      val r = engine.statsField(q, f).collect().head
      val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))
      val exp = oracle.statsField(q, f).get
      assert(got._1 == exp._1 && got._2 == exp._2 && got._3 == exp._3 &&
        got._4 == exp._4 && math.abs(got._5 - exp._5) < 1e-9,
        s"[$q stats=$f] got=$got exp=$exp")
    }
    intercept[IllegalArgumentException](engine.statsField("w1", "lang"))
  }

  test("searchGrouped: per-group top-k equals oracle (r5)") {
    for (q <- Seq("the", "w00017", "w0099* OR w00017", "*:*");
         k <- Seq(1, 3)) {
      val got = engine.searchGrouped(q, "lang", k).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      val exp = oracle.topKGrouped(q, "lang", k)
      assert(got.map(t => (t._1, t._2, t._3)) ==
        exp.map(t => (t._1, t._2, t._3)), s"[$q group.limit=$k]\n got=$got\n exp=$exp")
      got.zip(exp).foreach { case (g, e) =>
        assert(math.abs(g._4 - e._4) < 1e-9, s"[$q] score ${g._4} != ${e._4}")
      }
    }
    // numeric/timestamp group fields reject: the oracle twin orders group
    // values as strings, so admitting them would desync the spec ordering
    intercept[IllegalArgumentException](engine.searchGrouped("w1", "doclen", 3))
    intercept[IllegalArgumentException](engine.searchGrouped("w1", "nope", 3))
  }

  test("sort/stats/group plan shapes: top-k sort, no UDF when phrase-free (r5)") {
    // Solr sort=: the page must come from TakeOrderedAndProject (top-k over
    // the match set), never a global Sort of all matches
    val sortedPlan = engine.searchSorted("the", "warc_ts", ascending = false, 10)
      .queryExecution.executedPlan.toString
    assert(sortedPlan.contains("TakeOrderedAndProject"), sortedPlan.take(600))
    // phrase-free queries keep the whole match-set machinery UDF-free in
    // every new consumer (the r5 facet fix must not regress via reuse)
    for (plan <- Seq(
        engine.statsField("the AND w00017", "doclen"),
        engine.searchGrouped("the AND w00017", "lang", 3),
        engine.facetRange("the AND w00017", "2024-01-01T00:00:00Z",
          "2024-01-02T00:00:00Z", 3600))) {
      val p = plan.queryExecution.executedPlan.toString
      assert(!p.contains("ScalaUDF"), p.take(600))
    }
    // match-set-only consumers must skip the per-doc score fold entirely
    // (needScores=false): no sort_array/aggregate in the stats plan
    val statsPlan = engine.statsField("the AND w00017", "doclen")
      .queryExecution.executedPlan.toString
    assert(!statsPlan.contains("sort_array"), statsPlan.take(600))
  }

  test("suggest + terms component equal oracle ranking (r5)") {
    // fuzzy "did you mean": misspelled mid-freq word, stopword, title token
    for (t <- Seq("w0001", "teh", "w00342"); f <- Seq("text", "title")) {
      assert(engine.suggest(t, 8, f) == oracle.suggest(t, 8, f),
        s"suggest('$t', df=$f)")
    }
    for (p <- Seq("w000", "th", "doc"); f <- Seq("text", "title")) {
      assert(engine.termsByPrefix(p, 10, f) == oracle.termsByPrefix(p, 10, f),
        s"terms('$p*', df=$f)")
    }
    // suggestions must actually rank by (distance, -df): the stopword's own
    // exact form (distance 0) comes first when present
    val s = engine.suggest("the", 3)
    assert(s.nonEmpty && s.head._1 == "the" && s.head._2 == 0)
    intercept[IllegalArgumentException](engine.suggest("two words", 3))
    // terms.regex (r5): full-match regex over the field dictionary,
    // term-asc + df, vs the oracle twin — incl. an alternation, a
    // character class, and a field-scoped pattern
    for ((p, f) <- Seq(("w0001.", "text"), ("th.*", "text"),
           ("w(17|42).*", "text"), ("[0-9]", "title"), ("d.c", "title"))) {
      assert(engine.termsByRegex(p, 10, f) == oracle.termsByRegex(p, 10, f),
        s"terms.regex('$p', df=$f)")
    }
    assert(engine.termsByRegex("w0001.", 10).nonEmpty)
    // invalid regex and unknown field reject loudly
    intercept[java.util.regex.PatternSyntaxException](
      engine.termsByRegex("w[", 5))
    intercept[IllegalArgumentException](
      engine.termsByRegex("w.*", 5, "body"))
  }

  test("facet.pivot over the match set equals oracle (r5)") {
    for (q <- Seq("the", "w00017", "lang:no AND the")) {
      val got = engine.facetPivot(q, "lang", "url").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getInt(4))).toSeq
      val exp = oracle.facetPivot(q, "lang", "url")
      assert(got == exp, s"facetPivot q='$q'\n got=$got\n exp=$exp")
    }
    // field validation stays loud: same-field pivot and non-stored fields
    intercept[IllegalArgumentException](engine.facetPivot("the", "lang", "lang"))
    intercept[IllegalArgumentException](engine.facetPivot("the", "doclen", "lang"))
  }

  test("spellcheck collation: zero-hit exact terms rewritten, twins agree (r5)") {
    // engine and oracle share rules + replacement code; compare wholesale
    val qs = Seq(
      "w0034x",                      // single typo
      "w00017 AND w0034x",           // typo under AND
      "the w0001x w00342",           // typo among hits
      "title:dok w00017",            // title-field typo ('doc' is 1 edit)
      "w00017 AND (w0034x OR the)",  // typo inside parens
      "w00017 w00342",               // nothing missing → None
      "zzzzzzzzz",                   // unfixable (no DL≤2 neighbor) → None
      "w0099* w0034x")               // multi-term literal stays untouched
    qs.foreach { q =>
      assert(engine.collate(q) == oracle.collate(q), s"collate '$q'")
    }
    val c = engine.collate("w00017 AND w0034x")
    assert(c.isDefined, "typo under AND should collate")
    val (cq, hits) = c.get
    assert(cq.startsWith("w00017 AND ") && !cq.contains("w0034x"), cq)
    assert(hits > 0 &&
      hits == oracle.candidates(graft.query.QueryParser.parse(cq)).size)
    assert(engine.collate("w00017 w00342").isEmpty)
    assert(engine.collate("*:*").isEmpty)
    // the collated query is immediately runnable and matches
    assert(engine.search(cq, 5).collect().nonEmpty)
    // protection (review r5): replaceToken is string surgery over every
    // standalone occurrence, so a missing token that ALSO appears as a
    // present term in another field, a filter value, a phrase term, or
    // inside a multi-term literal must NOT collate — rewriting it would
    // corrupt the other occurrence
    Seq("w00017 title:w00017", // present in text, missing under title:
        "url:w0034x w0034x",   // token doubles as a filter value
        "\"w0034x the\" w0034x", // token inside a phrase
        "w0034x w0034x*")      // token inside a prefix literal
      .foreach { q =>
        assert(engine.collate(q).isEmpty, s"protected '$q' must not collate")
        assert(oracle.collate(q).isEmpty, s"oracle twin disagrees on '$q'")
      }
  }

  test("mlt interesting terms + search equal oracle (r5)") {
    // engine df comes from segment metadata, oracle df from its in-memory
    // postings — parity here checks that aggregation end-to-end
    val txt = "w00017 w00017 w00342 w00342 w00342 zzzmissing zzzmissing " +
      "the the of of"
    assert(engine.interestingTerms(txt, 5) == oracle.interestingTerms(txt, 5))
    // title-fielded selection (df against title: keys; titles are "doc <i>")
    val titleTxt = "doc doc 9 9"
    assert(engine.interestingTerms(titleTxt, 5, df = "title") ==
      oracle.interestingTerms(titleTxt, 5, field = "title"))
    val terms = engine.interestingTerms(txt, 3)
    // unindexed terms never selected; rare terms outrank the stopword
    assert(terms.nonEmpty && !terms.contains("zzzmissing"))
    assert(!terms.take(2).contains("the"), terms.toString)
    // MLT IS a search of the interesting-term OR query (inherits rank
    // identity, tombstones, paging), and ranks identically to the oracle
    val mlt = engine.moreLikeThis(txt, 10, maxTerms = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaSearch = engine.search(terms.mkString(" OR "), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(mlt == viaSearch && mlt.nonEmpty)
    assert(mlt.map(_._1) == oracle.topK(terms.mkString(" OR "), 10).map(_._1))
    // below-threshold input yields the empty page, not an error
    assert(engine.moreLikeThis("zzz yyy xxx", 5).collect().isEmpty)
  }

  test("boost parses on terms/phrases/prefixes; malformed forms reject") {
    import graft.query.{QueryParser, ExactLit, PrefixLit}
    // trailing ^N on a bare term (the r4 loud-reject, now implemented)
    val a = QueryParser.parse("jakarta^4 other")
    assert(a.boosts == Map(ExactLit("jakarta") -> 4.0))
    // fractional, fielded, prefix, phrase (per-term), slop-then-boost order
    assert(QueryParser.parse("title:doc^0.5").boosts ==
      Map(ExactLit("title:doc") -> 0.5))
    assert(QueryParser.parse("w00*^3").boosts == Map(PrefixLit("w00") -> 3.0))
    assert(QueryParser.parse("\"a b\"^2").boosts ==
      Map(ExactLit("a") -> 2.0, ExactLit("b") -> 2.0))
    assert(QueryParser.parse("\"a b\"~2^1.5").boosts ==
      Map(ExactLit("a") -> 1.5, ExactLit("b") -> 1.5))
    // same term boosted twice keeps the max; unboosted occurrence is 1.0
    assert(QueryParser.parse("a^2 a^3 a").boosts == Map(ExactLit("a") -> 3.0))
    // ... which also means an unboosted occurrence undoes a damping boost,
    // while a LONE damping boost survives (the r5 getOrElse(1.0) bug)
    assert(QueryParser.parse("a^0.5 a").boosts == Map.empty)
    assert(QueryParser.parse("b a^0.5").boosts == Map(ExactLit("a") -> 0.5))
    // cross-literal MAX: a bare occurrence pins the term at 1 even when a
    // prefix damping boost expands onto it; other expansions keep the boost
    locally {
      import graft.query.QueryResolve
      val dict = Seq("w00010", "w00017")
      val rq = QueryResolve.resolve(QueryParser.parse("w0001*^0.5 w00017"),
        QueryResolve.dictExpander(dict))
      assert(rq.boosts == Map("w00010" -> 0.5),
        s"bare w00017 must pin its boost at 1: ${rq.boosts}")
      // and an explicit boost still wins over the implicit 1
      val rq2 = QueryResolve.resolve(QueryParser.parse("w0001*^3 w00017"),
        QueryResolve.dictExpander(dict))
      assert(rq2.boosts == Map("w00010" -> 3.0, "w00017" -> 3.0))
    }
    // malformed boosts stay loud
    intercept[IllegalArgumentException](QueryParser.parse("a^"))
    intercept[IllegalArgumentException](QueryParser.parse("a^x"))
    intercept[IllegalArgumentException](QueryParser.parse("a^2^3"))
    intercept[IllegalArgumentException](QueryParser.parse("^4"))
    intercept[IllegalArgumentException](QueryParser.parse("a^2b"))
    intercept[IllegalArgumentException](QueryParser.parse("\"a b\"^"))
    intercept[IllegalArgumentException](QueryParser.parse("\"a b\"^2x"))
  }

  test("boost changes ranking in the boosted term's favor (all paths)") {
    def mk(url: String, text: String): WebDoc = WebDoc(url,
      new java.sql.Timestamp(1704067200000L),
      s"<html><head><title>t</title></head><body>$text</body></html>"
        .getBytes(UTF_8), text, "en")
    // doc 1 is alpha-heavy, doc 2 beta-heavy, symmetric lengths
    val corpus = Seq(
      mk("https://b.example.org/1", "alpha alpha alpha beta filler pad"),
      mk("https://b.example.org/2", "beta beta beta alpha filler pad"),
      mk("https://b.example.org/3", "gamma delta filler pad words here"))
    val dir = SparkTestSession.tempDir("graft-boost")
    IndexBuilder.build(spark, spark.createDataset(corpus),
      dir, IndexConf(numBuckets = 4))
    val eng = new QueryEngine(spark, dir, 4)
    val distEng = new QueryEngine(spark, dir, 4, driverWandMaxSegments = 0)
    val orc = new SeqOracle(corpus.sortBy(_.url).zipWithIndex.map {
      case (d, i) => OracleDoc(i.toLong, d.text, d.lang, d.url, 0L)
    })
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq
    // symmetric corpus: unboosted ranks tie on score (docId breaks), and
    // the boosted term's heavy doc must come first in every path
    val plain = ids(eng.search("alpha beta", 10))
    val boosted = ids(eng.search("alpha beta^5", 10))
    assert(boosted.head == 1L, s"beta^5 should rank doc 2 first: $boosted")
    assert(plain != boosted || plain.head == 1L)
    Seq("alpha beta^5", "alpha^5 beta", "alpha beta^0.1").foreach { q =>
      val expect = orc.topK(q, 10)
      assertRankIdentical(ids2(eng.search(q, 10)), expect, s"WAND q='$q'")
      assertRankIdentical(ids2(distEng.search(q, 10)), expect, s"dist q='$q'")
      assertRankIdentical(ids2(eng.searchExhaustive(q, 10)), expect,
        s"exh q='$q'")
    }
  }

  private def ids2(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("index self-describes its bucket count; a mismatched engine fails loudly") {
    assert(IndexLayout.detectBuckets(spark, indexDir)
      .contains(IndexLayout.DetectedBuckets(conf.numBuckets, recorded = true)))
    // wrong numBuckets used to prune postings scans to the wrong termBucket
    // dirs — zero hits, no error; now the view build rejects it
    val e = intercept[IllegalArgumentException] {
      new QueryEngine(spark, indexDir, conf.numBuckets * 2)
    }
    assert(e.getMessage.contains("encoded with"))
  }

  test("dir-count bucket detection is a lower bound: flags at-or-above pass") {
    // pre-self-description indexes (no job.txt buckets=) fall back to
    // counting termBucket= dirs — a LOWER bound, since an empty bucket
    // leaves no dir. The CLI resolver must reject only a flag BELOW the
    // observed count (provably wrong) and trust one at-or-above it; the
    // old equality check rejected the operator's CORRECT count and its
    // "omit --buckets" advice then silently mis-pruned every scan.
    val dir = SparkTestSession.tempDir("graft-lowerbound")
    val c = graft.index.IndexConf(numBuckets = 8)
    graft.index.IndexBuilder.build(spark, CorpusGen.generate(spark, 30L), dir, c)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // strip the recorded count, fabricating a pre-field index...
    val job = new org.apache.hadoop.fs.Path(s"$dir/seg-000000/job.txt")
    val txt = { val in = fs.open(job)
      try new String(in.readAllBytes()) finally in.close() }
    val out = fs.create(job, true)
    try out.write(txt.linesIterator.filterNot(_.startsWith("buckets="))
      .mkString("\n").getBytes("UTF-8")) finally out.close()
    // ...with one empty bucket (undercount: 7 dirs, true count 8)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/seg-000000/postings/termBucket=7"), true)
    assert(IndexLayout.detectBuckets(spark, dir)
      .contains(IndexLayout.DetectedBuckets(7, recorded = false)))
    assert(MainCommon.resolveBuckets(spark, dir, Some("8")) == 8,
      "the true count must not be rejected on an undercounting fallback")
    assert(MainCommon.resolveBuckets(spark, dir, None) == 7)
    val e = intercept[IllegalArgumentException] {
      MainCommon.resolveBuckets(spark, dir, Some("4"))
    }
    assert(e.getMessage.contains("termBucket"))
  }

  test("`+` is honored on ANY operand of an AND chain (ADVICE r3)") {
    import graft.query.{QueryParser, ExactLit}
    // `x a AND +b`: the (a AND b) group is a MUST, x a pure should →
    // the only clause is {a, b}; x contributes scoring only
    val ast = QueryParser.parse("x a AND +b")
    assert(ast.clauses.length == 1)
    assert(ast.clauses.head.pos.toSet ==
      Set(ExactLit("a"), ExactLit("b")))
    assert(ast.scoringLits.contains(ExactLit("x")))
    // filter-first chain keeps the later operand's plus too
    val ast2 = QueryParser.parse("x lang:no AND +a")
    assert(ast2.clauses.length == 1)
    assert(ast2.clauses.head.pos == Seq(ExactLit("a")))
    assert(ast2.langFilter.contains("no"))
  }
}
