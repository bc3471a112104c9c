package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.index._
import graft.query.QueryEngine

/** Build at different parallelism levels ⇒ identical docIds, identical
  * decoded postings (including positions), bit-identical query scores
  * (FIXTURES.md §5; the sandbox stand-in for "same result at N and 4N
  * executors").
  */
class DeterminismSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val N = 300L
  private val conf = IndexConf(numBuckets = 4, segmentMaxDocs = 50)

  private def logicalIndex(dir: String)
      : (Seq[(String, Int, Int, Seq[Long], Seq[Long], Seq[Long], Seq[Seq[Int]])],
         Seq[(Long, String)]) = {
    val segs = spark.read
      .parquet(SegmentChecks.postingsPaths(dir): _*)
      .as[PostingSegment]
      .collect()
      .map { s =>
        val (ids, tfs, dls) = PostingCodec.decodeAll(s)
        (s.term, s.segment, s.count, ids.toSeq, tfs.toSeq, dls.toSeq,
          PostingCodec.decodePositions(s).map(_.toSeq).toSeq)
      }
      .sortBy(t => (t._1, t._2))
      .toSeq
    val docs = spark.read.parquet(SegmentChecks.docsPaths(dir): _*)
      .select("docId", "url").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    (segs, docs)
  }

  test("index content identical when built at parallelism 1, 3, 8") {
    val dirs = Seq(1, 3, 8).map { p =>
      val dir = SparkTestSession.tempDir(s"graft-det-$p")
      val docs = CorpusGen.generate(spark, N, partitions = math.max(p, 2))
      IndexBuilder.build(spark, docs, dir, conf.copy(buildPartitions = p))
      dir
    }
    val base = logicalIndex(dirs.head)
    dirs.tail.foreach { d =>
      val other = logicalIndex(d)
      assert(other._2 == base._2, "docId assignment differs")
      assert(other._1 == base._1, "posting content differs")
    }
    // and queries produce bit-identical scores
    val engines = dirs.map(new QueryEngine(spark, _, conf.numBuckets))
    Seq("the", "w00001 w00002", "w00003 AND the", "\"the of\"").foreach { q =>
      val res = engines.map(_.search(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      assert(res.tail.forall(_ == res.head), s"query '$q' differs: $res")
    }
  }
}
