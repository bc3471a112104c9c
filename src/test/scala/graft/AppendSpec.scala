package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.index._
import graft.oracle.{OracleDoc, SeqOracle}
import graft.query.QueryEngine

/** Incremental append — the reference's repeated-batch operating model
  * (chunked solrc.add at /root/reference/src/indexdata.py:1778–1788):
  *
  *  - build(A) + append(B) must be rank-identical to the oracle over A∪B
  *    (with the engine's actual docId assignment: batch A ids 0.., batch B
  *    ids past A's high-water mark) — BM25 over the union corpus, i.e. df
  *    and avgdl reflect BOTH batches.
  *  - re-adding an existing url overwrites it (same-id overwrite at
  *    indexdata.py:1306): the old version vanishes from results.
  *  - compaction after appends merges the generations back to one.
  */
class AppendSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val conf = IndexConf(numBuckets = 4, segmentMaxDocs = 48)

  /** The engine's docId mapping after build(A)+append(B): A in url order
    * from 0, then B in url order from |A|.
    */
  private def unionOracle(nA: Long, nB: Long, seedB: Long): SeqOracle = {
    val a = CorpusGen.generateLocal(nA).sortBy(_.url).zipWithIndex
      .map { case (d, i) => OracleDoc(i.toLong, d.text, d.lang, d.url,
        d.warc_ts.getTime) }
    val b = CorpusGen.generateLocal(nB, seed = seedB).sortBy(_.url).zipWithIndex
      .map { case (d, i) => OracleDoc(nA + i.toLong, d.text, d.lang, d.url,
        d.warc_ts.getTime) }
    new SeqOracle(a ++ b)
  }

  test("build(A) + append(B) rank-identical to oracle over A ∪ B") {
    val dir = SparkTestSession.tempDir("graft-append")
    val nA = 200L
    val nB = 120L
    val seedB = 777L // disjoint url space (urls embed the seed hash)
    IndexBuilder.build(spark, CorpusGen.generate(spark, nA), dir, conf)
    val r = IndexBuilder.append(spark,
      CorpusGen.generate(spark, nB, seed = seedB), dir, conf)
    assert(r.docs == nB)
    assert(IndexLayout.current(spark, dir).get.size == 2)

    val oracle = unionOracle(nA, nB, seedB)
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    val distEngine = new QueryEngine(spark, dir, conf.numBuckets,
      driverWandMaxSegments = 0)
    assert(engine.stats.n == nA + nB)
    assert(math.abs(engine.stats.avgdl - oracle.avgdl) < 1e-9)

    Seq("the", "w00001 w00002", "w00003 AND the", "w00017 NOT w00042",
      "\"the of\"", "lang:no AND w00002").foreach { q =>
      val expect = oracle.topK(q, 10)
      Seq("wand" -> engine.searchWand(q, 10),
          "dist" -> distEngine.searchWand(q, 10),
          "exh" -> engine.searchExhaustive(q, 10)).foreach { case (tag, df) =>
        val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got.map(_._1) == expect.map(_._1),
          s"[$tag] q='$q'\n got=$got\n exp=$expect")
        got.zip(expect).foreach { case ((_, gs), (_, es)) =>
          assert(math.abs(gs - es) < 1e-9, s"[$tag] q='$q' score $gs != $es")
        }
      }
    }
    // results span both batches (docIds above and below the watermark)
    val hits = engine.search("the", 50).collect().map(_.getLong(0))
    assert(hits.exists(_ < nA) && hits.exists(_ >= nA),
      s"expected hits from both batches, got ${hits.toSeq}")
    SegmentChecks.assertSegment(dir, "seg-000000")
    SegmentChecks.assertSegment(dir, "seg-000001", "supersedes")
  }

  test("resume finishes an append killed before (or during) publish") {
    val dir = SparkTestSession.tempDir("graft-append-resume")
    val nA = 150L
    val nB = 80L
    val seedB = 555L
    IndexBuilder.build(spark, CorpusGen.generate(spark, nA), dir, conf)
    IndexBuilder.append(spark,
      CorpusGen.generate(spark, nB, seed = seedB), dir, conf)

    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash simulation: drop the append's pointer AND one of its buckets +
    // manifest rows — the batch is half-written and unpublished
    val ptrs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.startsWith("current-")).sortBy(_.getName)
    fs.delete(ptrs.last, false) // back to [seg-000000]
    assert(IndexLayout.current(spark, dir).get == Seq("seg-000000"))
    val segB = "seg-000001"
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/$segB/postings/termBucket=2"), true)
    val mrows = spark.read.parquet(s"$dir/$segB/manifest").as[ManifestRow]
      .collect().filterNot(_.partitionId == 2)
    mrows.toSeq.toDS().coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/$segB/manifest")

    // resume with the SAME batch: rebuilds bucket 2 at the correct docId
    // offset and publishes the pointer
    IndexBuilder.resume(spark,
      CorpusGen.generate(spark, nB, seed = seedB), dir, conf)
    assert(IndexLayout.current(spark, dir).get ==
      Seq("seg-000000", "seg-000001"))

    val oracle = unionOracle(nA, nB, seedB)
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    Seq("the", "w00001 w00002", "w00003 AND the").foreach { q =>
      val expect = oracle.topK(q, 10)
      val got = engine.searchWand(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) == expect.map(_._1),
        s"q='$q'\n got=$got\n exp=$expect")
      got.zip(expect).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-9)
      }
    }
  }

  test("upsert append killed before publish: resume leaves exactly one version") {
    // ADVICE r2: round-2 wrote upsert tombstones AFTER publish and resume
    // never redid them — a crash window left both versions serving forever.
    // Supersedes now live inside the segment and resume re-derives them.
    val dir = SparkTestSession.tempDir("graft-upsert-resume")
    val n = 100L
    IndexBuilder.build(spark, CorpusGen.generate(spark, n), dir, conf)
    val victim = CorpusGen.doc(CorpusGen.DefaultSeed, 7L, n)
    val newText = "upsertcrashtoken " + victim.text
    val replacement = victim.copy(text = newText,
      html = s"<html><head><title>t</title></head><body>$newText</body></html>"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    IndexBuilder.append(spark, spark.createDataset(Seq(replacement)), dir, conf)

    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash simulation: roll back the pointer AND delete the supersedes
    // table — the append died between data completion and the two
    // pre-publish steps
    val ptrs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.startsWith("current-")).sortBy(_.getName)
    fs.delete(ptrs.last, false)
    val segB = IndexLayout.latestSegDir(spark, dir).get
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$segB/supersedes"), true)
    // old index serves the OLD version only (no tombstone leak pre-publish)
    val engine0 = new QueryEngine(spark, dir, conf.numBuckets)
    assert(engine0.search("the", 200).collect().nonEmpty)
    assert(engine0.search("upsertcrashtoken", 10).collect().isEmpty)

    IndexBuilder.resume(spark, spark.createDataset(Seq(replacement)), dir, conf)
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    val hits = engine.search("upsertcrashtoken", 10).collect().map(_.getLong(0))
    assert(hits.length == 1 && hits.head == n)
    // exactly one version of the url serves: the old docId is superseded
    val oldId = engine.docs.filter($"url" === victim.url &&
      $"docId" < n).select($"docId").collect().head.getLong(0)
    val all = engine.search("the", 500).collect().map(_.getLong(0))
    assert(!all.contains(oldId), "old version must be hidden after resume")
  }

  test("real-time get sees an uncommitted append batch (Solr /get analog)") {
    val dir = SparkTestSession.tempDir("graft-rtg")
    IndexBuilder.build(spark, CorpusGen.generate(spark, 60), dir, conf)
    IndexBuilder.append(spark,
      CorpusGen.generate(spark, 20, seed = 808L), dir, conf)
    // roll the pointer back: the append batch is on disk but UNCOMMITTED
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptrs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.startsWith("current-")).sortBy(_.getName)
    fs.delete(ptrs.last, false)

    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    val newDoc = CorpusGen.doc(808L, 3L, 20L)
    // search does NOT see the uncommitted batch…
    assert(engine.docs.filter($"url" === newDoc.url).collect().isEmpty)
    // …real-time get DOES (newest on-disk version)
    val got = engine.realtimeGet(newDoc.url).collect()
    assert(got.length == 1 && got.head.getAs[String]("url") == newDoc.url)
    assert(got.head.getAs[Long]("docId") >= 60L)
    // a published doc resolves too, and a missing url is empty
    val oldDoc = CorpusGen.doc(CorpusGen.DefaultSeed, 1L, 60L)
    assert(engine.realtimeGet(oldDoc.url).collect().length == 1)
    assert(engine.realtimeGet("https://nosuch.example/x").collect().isEmpty)
  }

  test("docsmap prunes realtimeGet planning to the files that can hold the url") {
    val dir = SparkTestSession.tempDir("graft-docsmap")
    val n = 80L
    IndexBuilder.build(spark, CorpusGen.generate(spark, n), dir,
      conf.copy(buildPartitions = 4))
    val seg = IndexLayout.current(spark, dir).get.head
    // exact cover: one docsmap entry per docs part-file
    val m = spark.read.parquet(s"$dir/$seg/docsmap")
      .select($"file", $"urlMin", $"urlMax")
      .as[(String, String, String)].collect()
    val files = new java.io.File(s"$dir/$seg/docs").listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSet
    assert(m.map(_._1).toSet == files && files.size >= 2)
    // a point url's candidate set is a strict subset (url-sorted range
    // partitions → disjoint-ish per-file ranges)
    val target = CorpusGen.doc(CorpusGen.DefaultSeed, 7L, n)
    val cand = m.count(e => e._2 <= target.url && target.url <= e._3)
    assert(cand >= 1 && cand < files.size,
      s"expected docsmap pruning, got $cand of ${files.size} files")
    // and the pruned lookup still resolves (plus misses stay empty)
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    val got = engine.realtimeGet(target.url).collect()
    assert(got.length == 1 && got.head.getAs[String]("url") == target.url)
    assert(engine.realtimeGet("https://zzz.nosuch.example/x").collect().isEmpty)
  }

  test("real-time get does not resurrect deleted docs (ADVICE r3)") {
    val dir = SparkTestSession.tempDir("graft-rtg-del")
    val n = 50L
    IndexBuilder.build(spark, CorpusGen.generate(spark, n), dir, conf)
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    val victim = CorpusGen.doc(CorpusGen.DefaultSeed, 4L, n)
    val victimId = engine.realtimeGet(victim.url).collect().head.getLong(0)
    graft.query.Deletes.delete(spark, dir, Seq(victimId))
    // the reference uses /get to decide whether a url is indexed
    // (indexdata.py:1529–1533): a deleted url must read as NOT indexed,
    // matching the search view's tombstone anti-join
    assert(engine.realtimeGet(victim.url).collect().isEmpty,
      "deleted doc must not be returned by /get")
    // an upserted url returns ONLY the new version (old one superseded)
    val other = CorpusGen.doc(CorpusGen.DefaultSeed, 9L, n)
    val newText = "rtgupserttoken " + other.text
    val repl = other.copy(text = newText,
      html = s"<html><head><title>t</title></head><body>$newText</body></html>"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    IndexBuilder.append(spark, spark.createDataset(Seq(repl)), dir, conf)
    engine.invalidateCache()
    val got = engine.realtimeGet(other.url).collect()
    assert(got.length == 1 && got.head.getLong(0) == n)
  }

  test("append with overlapping urls overwrites (upsert-by-url)") {
    val dir = SparkTestSession.tempDir("graft-upsert")
    val n = 100L
    IndexBuilder.build(spark, CorpusGen.generate(spark, n), dir, conf)
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    val docsBefore = engine.docs.select("docId", "url").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    // re-add doc i=5 (same url) with fresh text
    val victim = CorpusGen.doc(CorpusGen.DefaultSeed, 5L, n)
    val newText = "replacementtoken only here " + victim.text
    val replacement = victim.copy(
      text = newText,
      html = s"<html><head><title>t</title></head><body>$newText</body></html>"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    IndexBuilder.append(spark, spark.createDataset(Seq(replacement)), dir, conf)
    engine.invalidateCache()

    val oldId = docsBefore.collectFirst {
      case (id, url) if url == victim.url => id
    }.get
    // the new version is findable, the old docId is tombstoned out
    val hits = engine.search("replacementtoken", 10).collect().map(_.getLong(0))
    assert(hits.length == 1 && hits.head == n) // new id = high-water mark
    val w17 = engine.search("the", 200).collect().map(_.getLong(0))
    assert(!w17.contains(oldId), "old version must be hidden after upsert")

    // compaction folds the tombstone in and merges generations
    Compaction.run(spark, dir, conf)
    engine.invalidateCache()
    assert(IndexLayout.current(spark, dir).get.size == 1)
    assert(engine.stats.n == n) // one doc replaced, not added
    assert(engine.search("replacementtoken", 10).collect().length == 1)
    assert(!engine.search("the", 200).collect().map(_.getLong(0))
      .contains(oldId))
    // the upsert batch is retired but within its GC grace; the merge is live
    SegmentChecks.assertSegment(dir, "seg-000001", "supersedes")
    SegmentChecks.assertSegment(dir, IndexLayout.current(spark, dir).get.head)
  }
}
