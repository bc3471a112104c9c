package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConf}
import graft.oracle.{OracleDoc, SeqOracle}
import graft.query.{Deletes, QueryEngine, QueryParser, Wand}

/** Solr fq / q.op / facet.query surface (round 5):
  *  - fq match sets constrain results through ALL THREE physical paths
  *    (driver WAND, distributed windowed WAND, exhaustive) rank-identically
  *    to the sequential oracle;
  *  - fq never contributes score (the Solr q-vs-fq split) — same docId set
  *    as the equivalent AND query where applicable, different scores;
  *  - q.op=AND makes adjacency conjunctive, equivalent to the explicit-AND
  *    query bit-for-bit (one parser flag, every path changes together);
  *  - facet.query counts sub-query overlap over the match set, zeros
  *    included, matching the oracle twin.
  */
class FqSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val NDocs = 400L
  private val conf = IndexConf(numBuckets = 8, segmentMaxDocs = 64)

  private lazy val indexDir: String = {
    val dir = SparkTestSession.tempDir("graft-fq")
    IndexBuilder.build(spark, CorpusGen.generate(spark, NDocs), dir, conf)
    dir
  }

  private lazy val oracle: SeqOracle = new SeqOracle(
    CorpusGen.generateLocal(NDocs).sortBy(_.url).zipWithIndex.map {
      case (d, i) => OracleDoc(i.toLong, d.text, d.lang, d.url,
        d.warc_ts.getTime, graft.corpus.Extractor.extractTitle(d.html))
    })

  private lazy val engine = new QueryEngine(spark, indexDir, conf.numBuckets)
  private lazy val distEngine =
    new QueryEngine(spark, indexDir, conf.numBuckets, driverWandMaxSegments = 0)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def assertRankIdentical(got: Seq[(Long, Double)],
      expect: Seq[(Long, Double)], ctx: String): Unit = {
    assert(got.map(_._1) == expect.map(_._1),
      s"[$ctx]\n got=${got.take(12)}\n exp=${expect.take(12)}")
    got.zip(expect).foreach { case ((_, gs), (_, es)) =>
      assert(math.abs(gs - es) < 1e-9, s"[$ctx] score $gs != $es")
    }
  }

  // (query, fqs) — term fqs, pure-filter fqs, mixed/multiple, phrase and
  // expansion shapes on either side
  private val goldenFq: Seq[(String, Seq[String])] = Seq(
    ("w00017 w00342", Seq("the")),
    ("the", Seq("w00017")),
    ("w00017 OR w00342", Seq("w00342 OR w00343")),
    ("the", Seq("lang:no")),
    ("the", Seq("w00017", "lang:no")),
    ("the of", Seq("url:host3.")),
    ("\"the of\"", Seq("the")),
    ("the", Seq("\"the of\"")),
    ("w0001*", Seq("the")),
    ("the", Seq("title:doc")),
    ("the", Seq("w00017 NOT w00342")),
    ("the", Seq("warc_ts:[2024-01-01T00:00:00Z TO 2024-01-01T02:00:00Z]")),
    // the canonical Solr shape — q=*:* + fq (r5): driver path = cached
    // sorted-array intersection, distributed path = the relational plan
    ("*:*", Seq("lang:no")),
    ("*:*", Seq("w00017")),
    ("*:*", Seq("w00017 OR w00342", "lang:en")),
    ("*:*", Seq("the", "url:host3.")))

  test("fq: all three paths rank-identical to oracle") {
    goldenFq.foreach { case (q, fq) =>
      val expect = oracle.topK(q, 10, fq = fq)
      assertRankIdentical(rows(engine.searchWand(q, 10, fq = fq)),
        expect, s"WAND-driver q='$q' fq=$fq")
      assertRankIdentical(rows(distEngine.searchWand(q, 10, fq = fq)),
        expect, s"WAND-dist q='$q' fq=$fq")
      assertRankIdentical(rows(engine.searchExhaustive(q, 10, fq = fq)),
        expect, s"EXH q='$q' fq=$fq")
      // fq must actually constrain: ensure at least SOME golden entry
      // differs from the unconstrained result (checked in aggregate below)
    }
    // the golden set is not vacuous: fq changes the page for most entries
    val changed = goldenFq.count { case (q, fq) =>
      oracle.topK(q, 10, fq = fq) != oracle.topK(q, 10)
    }
    assert(changed >= goldenFq.size / 2, s"only $changed golden fqs bite")
  }

  test("fq constrains without scoring (the Solr q-vs-fq split)") {
    // every (docId, score) under fq appears with the SAME score in the
    // unconstrained ranking — fq dropped docs, never touched scores
    val plain = rows(engine.searchExhaustive("w00017", 1000)).toMap
    val fqd = rows(engine.searchWand("w00017", 10, fq = Seq("the")))
    assert(fqd.nonEmpty)
    fqd.foreach { case (id, s) =>
      assert(plain.contains(id), s"fq result $id not in plain match set")
      assert(plain(id) == s, s"fq changed score of $id: ${plain(id)} != $s")
    }
    // ...whereas the equivalent AND query scores BOTH terms: same docId
    // set, different scores (fq ≠ AND)
    val andQ = rows(engine.searchExhaustive("w00017 AND the", 1000))
    val fqAll = rows(engine.searchExhaustive("w00017", 1000, fq = Seq("the")))
    assert(andQ.map(_._1).toSet == fqAll.map(_._1).toSet,
      "fq and AND must match the same docs")
    assert(andQ.toMap != fqAll.toMap, "AND must score the fq term; fq must not")
  }

  test("pure-filter fq ≡ in-query stored-field filter") {
    val viaFq = rows(engine.searchWand("the", 10, fq = Seq("lang:no")))
    val viaQuery = rows(engine.searchWand("the lang:no", 10))
    assertRankIdentical(viaFq, viaQuery, "lang fq vs in-query filter")
  }

  test("degenerate fq rejects loudly") {
    intercept[IllegalArgumentException] {
      engine.searchWand("the", 10, fq = Seq(""))
    }
    intercept[IllegalArgumentException] {
      oracle.topK("the", 10, fq = Seq(""))
    }
  }

  test("q.op=AND: adjacency becomes conjunctive, rank-identical everywhere") {
    val pairs = Seq(
      // (implicit under AND, explicit under OR)
      ("w00017 w00342", "w00017 AND w00342"),
      ("w00017 w00342 OR w00343", "(w00017 AND w00342) OR w00343"),
      ("title:(doc 9)", "title:(doc AND 9)"),
      ("the w00017 w00342", "the AND w00017 AND w00342"),
      ("+w00017 w00342", "w00017 AND w00342"))
    pairs.foreach { case (qAnd, qExplicit) =>
      val expect = oracle.topK(qExplicit, 10)
      assert(oracle.topK(qAnd, 10, qOp = "AND") == expect,
        s"oracle qOp=AND '$qAnd' != '$qExplicit'")
      assertRankIdentical(rows(engine.searchWand(qAnd, 10, qOp = "AND")),
        expect, s"WAND-driver qop '$qAnd'")
      assertRankIdentical(rows(distEngine.searchWand(qAnd, 10, qOp = "AND")),
        expect, s"WAND-dist qop '$qAnd'")
      assertRankIdentical(rows(engine.searchExhaustive(qAnd, 10, qOp = "AND")),
        expect, s"EXH qop '$qAnd'")
    }
    // AND default actually bites vs the OR default on adjacency
    assert(oracle.topK("w00017 w00342", 10, qOp = "AND") !=
      oracle.topK("w00017 w00342", 10))
    // explicit operators are unaffected by q.op
    assert(oracle.topK("w00017 OR w00342", 10, qOp = "AND") ==
      oracle.topK("w00017 OR w00342", 10))
    // invalid q.op rejects
    intercept[IllegalArgumentException] {
      QueryParser.parse("a b", "text", "XOR")
    }
  }

  test("fq applies to every match-set consumer (facet/sort/stats/group/" +
      "range/pivot) — Solr applies fq to all of them") {
    val q = "the"
    val fqs = Seq("w00017")
    val gotF = engine.facet(q, "lang", 20, "text", fqs).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(gotF == oracle.facet(q, "lang", fqs), "facet+fq")
    assert(gotF != oracle.facet(q, "lang"), "fq must bite the facet")

    val gotS = engine.searchSorted(q, "url", ascending = true, 10, "text",
      fqs).collect().map(_.getLong(0)).toSeq
    assert(gotS == oracle.topKSorted(q, "url", ascending = true, 10,
      fq = fqs), "sort+fq")

    val sr = engine.statsField(q, "doclen", "text", fqs).collect().head
    val sexp = oracle.statsField(q, "doclen", fq = fqs).get
    assert((sr.getLong(0), sr.getLong(1), sr.getLong(2), sr.getLong(3)) ==
      ((sexp._1, sexp._2, sexp._3, sexp._4)), "stats+fq")
    assert(math.abs(sr.getDouble(4) - sexp._5) < 1e-9, "stats+fq mean")

    val gotG = engine.searchGrouped(q, "lang", 3, "text", fqs).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val expG = oracle.topKGrouped(q, "lang", 3, fq = fqs)
    assert(gotG.map(t => (t._1, t._2, t._3)) ==
      expG.map(t => (t._1, t._2, t._3)), "group+fq")
    gotG.zip(expG).foreach { case (g, e) =>
      assert(math.abs(g._4 - e._4) < 1e-9, "group+fq score")
    }

    val start = "2024-01-01T00:00:00Z"; val end = "2024-01-08T00:00:00Z"
    val gotR = engine.facetRange(q, start, end, 3600L, "text", fqs)
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSeq
    assert(gotR == oracle.facetRange(q, start, end, 3600L, fq = fqs),
      "facet.range+fq")

    val gotP = engine.facetPivot(q, "lang", "url", 3, 2, "text", fqs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getInt(4))).toSeq
    assert(gotP == oracle.facetPivot(q, "lang", "url", 3, 2, fq = fqs),
      "pivot+fq")

    val gotFq = engine.facetQuery(q, Seq("w00342", "lang:no"), "text", fqs)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(gotFq == oracle.facetQuery(q, Seq("w00342", "lang:no"),
      fq = fqs), "facet.query+fq")
  }

  test("q.op applies to every match-set consumer — Solr's q.op is a " +
      "global request param, so facets/sort/stats/group/range/pivot " +
      "must count the SAME match set the page shows") {
    val q = "the w00017" // adjacency: q.op=AND shrinks the match set
    val and = "AND"
    // fixture sanity: AND actually bites for this query
    assert(oracle.topK(q, NDocs.toInt, qOp = and).size <
      oracle.topK(q, NDocs.toInt).size)

    val gotF = engine.facet(q, "lang", 20, "text", Nil, 1L, and).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(gotF == oracle.facet(q, "lang", qOp = and), "facet qop")
    assert(gotF != oracle.facet(q, "lang"), "qop must bite the facet")
    // the faceted match set IS the page's match set: counts sum to numFound
    assert(gotF.map(_._2).sum ==
      engine.countMatches(q, "text", Nil, and), "facet total = numFound")

    val gotS = engine.searchSorted(q, "url", ascending = true, 10, "text",
      Nil, and).collect().map(_.getLong(0)).toSeq
    assert(gotS == oracle.topKSorted(q, "url", ascending = true, 10,
      qOp = and), "sort qop")

    val sr = engine.statsField(q, "doclen", "text", Nil, and).collect().head
    val sexp = oracle.statsField(q, "doclen", qOp = and).get
    assert(sr.getLong(0) == sexp._1 && sr.getLong(1) == sexp._2 &&
      sr.getLong(2) == sexp._3 && sr.getLong(3) == sexp._4, "stats qop")

    val gotG = engine.searchGrouped(q, "lang", 2, "text", Nil, and)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(gotG == oracle.topKGrouped(q, "lang", 2, qOp = and)
      .map(t => (t._1, t._2, t._3)), "group qop")

    val start = "2024-01-01T00:00:00Z"; val end = "2024-01-08T00:00:00Z"
    val gotR = engine.facetRange(q, start, end, 3600L, "text", Nil, and)
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSeq
    assert(gotR == oracle.facetRange(q, start, end, 3600L, qOp = and),
      "facet.range qop")

    val gotP = engine.facetPivot(q, "lang", "url", 3, 2, "text", Nil, and)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getInt(4))).toSeq
    assert(gotP == oracle.facetPivot(q, "lang", "url", 3, 2, qOp = and),
      "pivot qop")

    // facet.query sub-queries parse under the same global q.op
    val sub = Seq("w00342 w00343", "lang:no")
    val gotQ = engine.facetQuery("the", sub, "text", Nil, and).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(gotQ == oracle.facetQuery("the", sub, qOp = and),
      "facet.query qop")
    assert(gotQ != oracle.facetQuery("the", sub),
      "qop must bite the facet.query sub-query")

    // and q.op composes with fq on a consumer (both seams at once)
    val fqs = Seq("w00342 w00343") // itself adjacency: parsed under q.op
    val gotFF = engine.facet("the", "lang", 20, "text", fqs, 1L, and)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(gotFF == oracle.facet("the", "lang", fqs, qOp = and),
      "facet fq+qop")
  }

  import SparkTestSession.jobsOf

  test("cache hits launch no Spark job: after one warm call, a repeat of " +
      "each cached shape runs 0 jobs") {
    // the index has no tombstones or supersedes, so the deny set is empty
    // without a read; the next test covers an index with both
    val shapes: Seq[(String, Seq[String])] = Seq(
      ("w00017", Nil),               // segCache
      ("lang:no AND w00099", Nil),   // + stored-field filter ids
      ("w00017 w00342", Seq("the")), // + term-fq ids
      ("*:*", Seq("lang:no")),       // match-all: pure-filter fq ids
      ("*:*", Seq("w00017 OR w00342")), // match-all: term-fq ids
      ("w0099*", Nil),               // prefix expansion
      ("w00017~1", Nil),             // fuzzy expansion
      ("w0001?", Nil),               // wildcard expansion
      ("text:[w00015 TO w00020]", Nil)) // term-range expansion
    val eng = new QueryEngine(spark, indexDir, conf.numBuckets)
    shapes.foreach { case (q, fq) =>
      val warm = rows(eng.search(q, 10, fq = fq))
      val (repeat, n) = jobsOf(rows(eng.search(q, 10, fq = fq)))
      assert(n == 0, s"repeat of q=$q fq=$fq ran $n jobs")
      assert(repeat == warm, s"q=$q fq=$fq: repeat differs from warm call")
    }
  }

  test("deny set cached per tombstone listing: repeats on an index with " +
      "deletes and upserts run 0 jobs, an outside delete shows at once") {
    val dir = SparkTestSession.tempDir("graft-fq-deny")
    val cf = IndexConf(numBuckets = 4, segmentMaxDocs = 32)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 200), dir, cf)
    // the first 20 urls again: 20 upserts into the new generation's
    // supersedes/, plus one delete-by-id file in the global tombstones/
    IndexBuilder.append(spark, CorpusGen.generate(spark, 20), dir, cf)
    Deletes.delete(spark, dir, Seq(150L))
    assert(new java.io.File(dir).listFiles().map(_.getName).contains(
      "tombstones"), "fixture has no tombstones dir")
    assert(new java.io.File(dir).listFiles().exists(d =>
      new java.io.File(d, "supersedes").isDirectory), "fixture has no " +
      "supersedes")
    val eng = new QueryEngine(spark, dir, 4)
    val shapes: Seq[(String, Seq[String])] = Seq(
      ("the", Nil), ("lang:no AND w00017", Nil), ("*:*", Seq("lang:no")))
    def repeatsRunNoJob(): Unit = shapes.foreach { case (q, fq) =>
      val warm = rows(eng.search(q, 10, fq = fq))
      val (repeat, n) = jobsOf(rows(eng.search(q, 10, fq = fq)))
      assert(n == 0, s"repeat of q=$q fq=$fq ran $n jobs")
      assert(repeat == warm, s"q=$q fq=$fq: repeat differs from warm call")
    }
    repeatsRunNoJob()
    val before = rows(eng.search("the", 10))
    assert(!before.map(_._1).contains(150L), "deleted doc 150 is visible")
    // a delete from outside the engine, no invalidateCache: the new
    // tombstone file changes the listing, so the next query re-reads
    val victim = before.head._1
    Deletes.delete(spark, dir, Seq(victim))
    val after = rows(eng.search("the", 10))
    assert(!after.map(_._1).contains(victim), s"deleted $victim is visible")
    assert(after == rows(eng.searchExhaustive("the", 10)),
      "driver vs exhaustive after the delete")
    repeatsRunNoJob()
    // the distributed path takes the cached set into its one shuffle
    val dist = new QueryEngine(spark, dir, 4, driverWandMaxSegments = 0)
    rows(dist.search("the", 10)) // warm
    val (got, n) = jobsOf(rows(dist.search("the", 10)))
    assert(n == 1, s"distributed repeat ran $n jobs")
    assert(got == after, "distributed vs driver after the delete")
  }

  test("distributed top-k: one Spark job per query, ranked like the " +
      "driver and exhaustive paths with bit-identical scores") {
    def sameRows(got: Seq[(Long, Double)], expect: Seq[(Long, Double)],
        ctx: String): Unit =
      assert(got == expect, s"[$ctx]\n got=$got\n exp=$expect")
    def checkOneJob(dist: QueryEngine, q: String): Unit = {
      rows(dist.search(q, 10)) // warm
      val (_, n) = jobsOf(rows(dist.search(q, 10)))
      assert(n == 1, s"distributed q=$q ran $n jobs")
    }
    Seq("the", "w00017 the", "the AND of", "lang:no AND w00017")
      .foreach(checkOneJob(distEngine, _))

    // w00017's few postings share one segment spanning several windows, so
    // the distributed path slices it and needs the pre-slice df
    val p = spark.sparkContext.defaultParallelism
    val rangeLen = (NDocs + p - 1) / p
    val spans = engine.postingsFor(Seq("w00017")).collect()
      .exists(s => s.firstDocId / rangeLen != s.lastDocId / rangeLen)
    assert(spans, "w00017 has no segment spanning two windows")

    val page1 = rows(engine.search("the", 10))
    val after = Some(Wand.Scored(page1.last._1, page1.last._2))
    val qf = Seq("text" -> 1.0, "title" -> 3.0)
    val cases: Seq[(String, Option[Wand.Scored], Seq[String],
        Seq[(String, Double)], Double)] = Seq("the", "w00017", "w00017 the", "the AND of",
      "lang:no AND w00017").map((_, None, Nil, Nil, 0.0)) ++ Seq(
      // (q, after, fq, qf, tie)
      ("the", after, Nil, Nil, 0.0),          // second page
      ("w00017 9999", None, Nil, qf, 0.3),    // edismax qf + tie
      ("w00017 w00342", None, Seq("the"), Nil, 0.0)) // term fq
    cases.foreach { case (q, af, fq, qfs, tie) =>
      val ctx = s"q=$q after=$af fq=$fq qf=$qfs tie=$tie"
      val got = rows(distEngine.search(q, 10, "text", af, fq, "OR", qfs, tie))
      assert(got.nonEmpty, s"[$ctx] empty")
      sameRows(got, rows(engine.search(q, 10, "text", af, fq, "OR", qfs,
        tie)), s"$ctx: distributed vs driver")
      sameRows(got, rows(engine.searchExhaustive(q, 10, "text", af, fq, "OR",
        qfs, tie)), s"$ctx: distributed vs exhaustive")
    }

    // tombstones travel in the same shuffle: still one job, same ranking
    val dir = SparkTestSession.tempDir("graft-fq-dist-del")
    IndexBuilder.build(spark, CorpusGen.generate(spark, 200), dir,
      IndexConf(numBuckets = 4, segmentMaxDocs = 32))
    val drv = new QueryEngine(spark, dir, 4)
    assert(drv.deleteByQuery("the", 3) == 3)
    val dist = new QueryEngine(spark, dir, 4, driverWandMaxSegments = 0)
    checkOneJob(dist, "the")
    val got = rows(dist.search("the", 10))
    sameRows(got, rows(drv.search("the", 10)), "tombstones: vs driver")
    sameRows(got, rows(drv.searchExhaustive("the", 10)),
      "tombstones: vs exhaustive")
  }

  test("fq docId cache retires with the view: append + invalidate shows " +
      "new matches") {
    import java.nio.charset.StandardCharsets.UTF_8
    def mk(url: String, text: String): graft.corpus.WebDoc =
      graft.corpus.WebDoc(url, new java.sql.Timestamp(1704067200000L),
        s"<html><head><title>t</title></head><body>$text</body></html>"
          .getBytes(UTF_8), text, "en")
    val base = Seq(
      mk("https://a.example.org/1", "alpha beta filler words here"),
      mk("https://a.example.org/2", "alpha other filler text again"),
      mk("https://a.example.org/3", "beta nothing relevant at all"))
    val dir = SparkTestSession.tempDir("graft-fq-swap")
    val cf = IndexConf(numBuckets = 4)
    IndexBuilder.build(spark, spark.createDataset(base), dir, cf)
    val eng = new QueryEngine(spark, dir, 4)
    val fqs = Seq("beta")
    // populate the fq docId cache on the current view
    val page1 = rows(eng.searchWand("alpha", 10, fq = fqs)).map(_._1)
    assert(page1.nonEmpty)
    // append a NEW doc matching both q and fq; upsert-by-url, new url
    IndexBuilder.append(spark, spark.createDataset(Seq(
      mk("https://a.example.org/4", "alpha beta beta beta dense match"))),
      dir, cf)
    eng.invalidateCache()
    val page2 = rows(eng.searchWand("alpha", 10, fq = fqs)).map(_._1)
    // a stale fq cache would hide the new doc; the swapped view's fresh
    // cache must surface it — and match a never-cached engine exactly
    val fresh = new QueryEngine(spark, dir, 4)
    assert(page2 == rows(fresh.searchWand("alpha", 10, fq = fqs)).map(_._1))
    assert(page2.toSet != page1.toSet,
      "appended (alpha AND beta) doc must enter the fq-constrained page")
  }

  test("delete-all respects fq: only the constrained match set is " +
      "tombstoned (review r5 — *:* + fq must never wipe the corpus)") {
    val dir = SparkTestSession.tempDir("graft-fq-delall")
    // lang:no exists only for docIndex%100 in [90,97) — 120 docs yield 7
    IndexBuilder.build(spark, CorpusGen.generate(spark, 120), dir,
      IndexConf(numBuckets = 4))
    val eng = new QueryEngine(spark, dir, 4)
    val inFq = rows(eng.search("*:*", 200, fq = Seq("lang:no")))
      .map(_._1).toSet
    assert(inFq.nonEmpty && inFq.size < 120, "degenerate lang:no fixture")
    val n = eng.deleteAllByQuery("*:*", pageSize = 5, fq = Seq("lang:no"))
    assert(n == inFq.size.toLong, s"deleted $n, fq match set ${inFq.size}")
    eng.invalidateCache()
    val left = rows(eng.search("*:*", 200)).map(_._1).toSet
    assert(left.size == 120 - inFq.size, s"${left.size} live after fq wipe")
    assert(left.intersect(inFq).isEmpty, "fq-matched doc survived delete")
    // qOp travels too: AND-delete must not tombstone the OR superset
    val dir2 = SparkTestSession.tempDir("graft-fq-delall2")
    IndexBuilder.build(spark, CorpusGen.generate(spark, 60), dir2,
      IndexConf(numBuckets = 4))
    val eng2 = new QueryEngine(spark, dir2, 4)
    val andSet = rows(eng2.search("w00017 w00342", 100, qOp = "AND"))
      .map(_._1).toSet
    val orSet = rows(eng2.search("w00017 w00342", 100)).map(_._1).toSet
    assert(andSet.size < orSet.size, "degenerate q.op fixture")
    val n2 = eng2.deleteAllByQuery("w00017 w00342", pageSize = 5,
      qOp = "AND")
    assert(n2 == andSet.size.toLong, s"AND-delete removed $n2")
    eng2.invalidateCache()
    assert(rows(eng2.search("w00017 w00342", 100)).map(_._1).toSet ==
      orSet -- andSet)
  }

  test("facet.query: overlap counts over the match set, zeros included") {
    val subs = Seq("w00017", "lang:no", "zzznosuchterm", "w00342 OR w00343")
    val got = engine.facetQuery("the", subs)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expect = oracle.facetQuery("the", subs)
    assert(got == expect, s"\n got=$got\n exp=$expect")
    assert(got.map(_._1) == subs, "input order preserved")
    assert(got.exists(_._2 == 0L), "missing sub-query reports 0, not absent")
    assert(got.count(_._2 > 0L) >= 2)
  }
}
