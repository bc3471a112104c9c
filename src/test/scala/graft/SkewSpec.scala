package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.index._
import graft.oracle.SeqOracle
import graft.query.QueryEngine

/** Stopword-heavy stress fixture (FIXTURES.md webdocs_skew): salted
  * docId-range segmentation must cap per-segment size AND stay
  * rank-identical to the oracle.
  */
class SkewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("skewed corpus: segments bounded, queries still exact") {
    val dir = SparkTestSession.tempDir("graft-skew")
    val n = 400L
    val conf = IndexConf(numBuckets = 4, segmentMaxDocs = 48)
    IndexBuilder.build(spark, CorpusGen.generate(spark, n, skew = true),
      dir, conf)

    val segs = spark.read
      .parquet(SegmentChecks.postingsPaths(dir): _*)
      .as[PostingSegment].collect()
    // docId-range splitting bounds the AVERAGE segment at segmentMaxDocs;
    // per-range counts fluctuate, so allow 2x before calling it skew
    val maxSeg = segs.map(_.count).max
    assert(maxSeg <= conf.segmentMaxDocs * 2, s"segment of $maxSeg postings")
    // the stopword head really is salted into many segments
    val theSegs = segs.filter(_.term == "the")
    assert(theSegs.length >= 5, s"'the' has only ${theSegs.length} segments")
    assert(theSegs.map(_.count.toLong).sum > conf.segmentMaxDocs)

    val docs = CorpusGen.generateLocal(n, skew = true).sortBy(_.url).zipWithIndex
      .map { case (d, i) => (i.toLong, d.text, d.lang) }
    val oracle = new SeqOracle(docs)
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    Seq("the", "the AND of", "w00002 NOT the", "the of and a to").foreach { q =>
      val expect = oracle.topK(q, 10)
      val got = engine.search(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) == expect.map(_._1),
        s"q='$q'\n got=$got\n exp=$expect")
      got.zip(expect).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-9) }
    }
  }

  test("doc-sampled hot detection (corpus > 50k): stopwords found hot, estimates near truth") {
    // 60k docs crosses the sampleMod=200 threshold — the only test driving
    // the SAMPLED path (benches run it at 800k; small suites run exact).
    // Only the hot map is computed here, not a full build.
    val n = 60000L
    val conf = IndexConf(numBuckets = 4) // segmentMaxDocs = 65536
    assert(IndexBuilder.sampleModFor(n) == 200)
    val (idDocs, unpersist, stats) =
      IndexBuilder.assignDocIds(spark, CorpusGen.generate(spark, n))
    val hot = IndexBuilder.hotTerms(idDocs, stats.n, conf)
    unpersist()
    // every Zipf-head stopword has df ≈ n ≈ 60k < 65536... docs contain
    // ~200 tokens so "the" (rank 1) appears in nearly every doc; with
    // segmentMaxDocs 65536 and df ≤ 60000 nothing is hot — assert empty,
    // then re-run with a small cap where truth is known
    assert(hot.isEmpty, s"no term has df > 65536 at 60k docs: $hot")
    val confSmall = IndexConf(numBuckets = 4, segmentMaxDocs = 4096)
    val (idDocs2, unpersist2, stats2) =
      IndexBuilder.assignDocIds(spark, CorpusGen.generate(spark, n))
    val hot2 = IndexBuilder.hotTerms(idDocs2, stats2.n, confSmall)
    unpersist2()
    // the full stopword head must be detected despite 1-in-200 sampling
    CorpusGen.Stopwords.take(10).foreach { w =>
      assert(hot2.contains(w), s"stopword '$w' not detected hot: ${hot2.size}")
    }
    // estimated segLen within 2x of the truth-derived one for 'the'
    // (df('the') ≈ n: appears in essentially every ~200-token doc)
    val segLenThe = hot2("the")
    val nSegTrue = (n + confSmall.segmentMaxDocs - 1) / confSmall.segmentMaxDocs
    val segLenTrue = (n + nSegTrue - 1) / nSegTrue
    assert(segLenThe >= segLenTrue / 2 && segLenThe <= segLenTrue * 2,
      s"segLen('the')=$segLenThe vs truth≈$segLenTrue")
  }
}
