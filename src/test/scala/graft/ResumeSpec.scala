package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path

import graft.corpus.CorpusGen
import graft.index._

/** Kill-and-resume at bucket granularity: wipe some completed buckets (data
  * + manifest rows), resume, assert the index is logically identical to an
  * untouched build (north_rule checkpoint/lineage requirement). Also covers
  * the crash-before-publish case: a build killed before the pointer flip is
  * finished and published by resume.
  */
class ResumeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val N = 250L
  private val conf = IndexConf(numBuckets = 6, segmentMaxDocs = 64)

  private def logicalPostings(dir: String) =
    spark.read.parquet(SegmentChecks.postingsPaths(dir): _*)
      .as[PostingSegment].collect()
      .map { s =>
        val (ids, tfs, dls) = PostingCodec.decodeAll(s)
        (s.term, s.segment, s.count, s.cf, ids.toSeq, tfs.toSeq, dls.toSeq,
          PostingCodec.decodePositions(s).map(_.toSeq).toSeq)
      }.sortBy(t => (t._1, t._2)).toSeq

  test("resume rebuilds exactly the missing buckets") {
    val ref = SparkTestSession.tempDir("graft-resume-ref")
    val dir = SparkTestSession.tempDir("graft-resume")
    val docs = CorpusGen.generate(spark, N)
    IndexBuilder.build(spark, docs, ref, conf)
    IndexBuilder.build(spark, docs, dir, conf)

    // simulate a kill after some buckets: drop bucket dirs 1 and 4 plus their
    // manifest rows (manifest is the commit marker)
    val seg = IndexLayout.latestSegDir(spark, dir).get
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(1, 4).foreach { b =>
      assert(fs.delete(new Path(s"$dir/$seg/postings/termBucket=$b"), true))
    }
    val manifest = spark.read.parquet(s"$dir/$seg/manifest").as[ManifestRow]
      .collect().filterNot(m => Seq(1, 4).contains(m.partitionId))
    manifest.toSeq.toDS().coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/$seg/manifest")

    val report = IndexBuilder.resume(spark, docs, dir, conf)
    assert(report.docs == N)

    assert(logicalPostings(dir) == logicalPostings(ref),
      "resumed index differs from reference build")
    val m2 = spark.read.parquet(s"$dir/$seg/manifest").as[ManifestRow].collect()
    assert(m2.map(_.partitionId).sorted.toSeq == (0 until conf.numBuckets))
    assert(m2.forall(_.status == "complete"))
    SegmentChecks.assertSegment(dir, seg)
  }

  test("resume replays the RECORDED bucket count, not the caller's conf") {
    // a resume launched with a different --buckets must not rebuild the
    // missing buckets under the new count: completed termBucket dirs would
    // disagree with rebuilt ones and queries would silently lose hits
    val ref = SparkTestSession.tempDir("graft-resume-bk-ref")
    val dir = SparkTestSession.tempDir("graft-resume-bk")
    val docs = CorpusGen.generate(spark, N)
    IndexBuilder.build(spark, docs, ref, conf)
    IndexBuilder.build(spark, docs, dir, conf)
    val seg = IndexLayout.latestSegDir(spark, dir).get
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(s"$dir/$seg/postings/termBucket=2"), true))
    val manifest = spark.read.parquet(s"$dir/$seg/manifest").as[ManifestRow]
      .collect().filterNot(_.partitionId == 2)
    manifest.toSeq.toDS().coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/$seg/manifest")

    val report = IndexBuilder.resume(spark, docs, dir,
      conf.copy(numBuckets = 12)) // wrong caller conf — must be ignored
    assert(report.buckets == conf.numBuckets)
    assert(logicalPostings(dir) == logicalPostings(ref),
      "resume under a mismatched conf must still finish with the recorded buckets")
    val m2 = spark.read.parquet(s"$dir/$seg/manifest").as[ManifestRow].collect()
    assert(m2.map(_.partitionId).sorted.toSeq == (0 until conf.numBuckets))
  }

  test("resume on a complete index is a no-op") {
    val dir = SparkTestSession.tempDir("graft-resume-noop")
    val docs = CorpusGen.generate(spark, 100)
    IndexBuilder.build(spark, docs, dir, IndexConf(numBuckets = 4))
    val before = logicalPostings(dir)
    val r = IndexBuilder.resume(spark, docs, dir, IndexConf(numBuckets = 4))
    assert(r.docs == 0 && r.segments == 0)
    assert(logicalPostings(dir) == before)
  }

  test("resume replays a REBUILD-over-published-index crash correctly") {
    // ADVICE r2: round-2 resume inferred idOffset from the published
    // generation and published old+new together. The descriptor fixes both:
    // the rebuilt seg uses offset 0 and the pointer names ONLY it.
    val dir = SparkTestSession.tempDir("graft-resume-rebuild")
    val ref = SparkTestSession.tempDir("graft-resume-rebuild-ref")
    val c = IndexConf(numBuckets = 4)
    val docsOld = CorpusGen.generate(spark, 80)
    val docsNew = CorpusGen.generate(spark, 120, seed = 99L)
    IndexBuilder.build(spark, docsOld, dir, c) // published generation
    IndexBuilder.build(spark, docsNew, dir, c) // the rebuild, completed...
    IndexBuilder.build(spark, docsNew, ref, c)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ...but roll the pointer back to generation 1 + wipe a bucket: the
    // rebuild "crashed" half-done while the old index kept serving
    val ptrs = fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.startsWith("current-")).sortBy(_.getName)
    fs.delete(ptrs.last, false)
    val seg = IndexLayout.latestSegDir(spark, dir).get
    fs.delete(new Path(s"$dir/$seg/postings/termBucket=2"), true)
    val mrows = spark.read.parquet(s"$dir/$seg/manifest").as[ManifestRow]
      .collect().filterNot(_.partitionId == 2)
    mrows.toSeq.toDS().coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/$seg/manifest")

    IndexBuilder.resume(spark, docsNew, dir, c)
    // ONLY the rebuilt generation serves, docIds start at 0
    assert(IndexLayout.current(spark, dir).get == Seq(seg))
    assert(logicalPostings(dir) == logicalPostings(ref))
    val ids = spark.read.parquet(s"$dir/$seg/docs")
      .agg(org.apache.spark.sql.functions.min($"docId"),
        org.apache.spark.sql.functions.max($"docId")).head()
    assert(ids.getLong(0) == 0L && ids.getLong(1) == 119L)
  }

  test("resume finishes a compaction crashed before the flip (no duplicates)") {
    val dir = SparkTestSession.tempDir("graft-resume-compact")
    val c = IndexConf(numBuckets = 4)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 80), dir, c)
    IndexBuilder.append(spark,
      CorpusGen.generate(spark, 40, seed = 31L), dir, c)
    intercept[RuntimeException] {
      Compaction.runInternal(spark, dir, c, failBeforePublish = true)
    }
    // old generations still serve; the merged seg is complete on disk
    assert(IndexLayout.current(spark, dir).get.size == 2)
    IndexBuilder.resume(spark, CorpusGen.generate(spark, 80), dir, c)
    val live = IndexLayout.current(spark, dir).get
    assert(live.size == 1, s"merged generation must serve alone, got $live")
    // postings are single-sourced: no term appears in two generations
    val engine = new graft.query.QueryEngine(spark, dir, c.numBuckets)
    assert(engine.stats.n == 120)
  }

  test("resume discards a compaction crashed mid-merge (inputs keep serving)") {
    val dir = SparkTestSession.tempDir("graft-resume-compact2")
    val c = IndexConf(numBuckets = 4)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 80), dir, c)
    IndexBuilder.append(spark,
      CorpusGen.generate(spark, 40, seed = 32L), dir, c)
    val before = IndexLayout.current(spark, dir).get
    intercept[RuntimeException] {
      Compaction.runInternal(spark, dir, c, failBeforePublish = true)
    }
    // wipe a bucket + its manifest row: merge half-done
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seg = IndexLayout.latestSegDir(spark, dir).get
    fs.delete(new Path(s"$dir/$seg/postings/termBucket=1"), true)
    val mrows = spark.read.parquet(s"$dir/$seg/manifest").as[ManifestRow]
      .collect().filterNot(_.partitionId == 1)
    mrows.toSeq.toDS().coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/$seg/manifest")
    IndexBuilder.resume(spark, CorpusGen.generate(spark, 80), dir, c)
    assert(IndexLayout.current(spark, dir).get == before)
    assert(IndexLayout.latestSegDir(spark, dir).get != seg,
      "half-merged orphan must be discarded")
  }

  test("resume drops a descriptor-less orphan WITHOUT touching the published index (ADVICE r3)") {
    // crash window: fs.create(job.txt) succeeded but the write/close didn't
    // (or the dir exists with nothing in it). Round-3 resume assumed "fresh
    // full build" and replaced the whole published index with the batch docs.
    val dir = SparkTestSession.tempDir("graft-resume-orphan")
    val c = IndexConf(numBuckets = 4)
    val docs = CorpusGen.generate(spark, 100)
    IndexBuilder.build(spark, docs, dir, c)
    val published = IndexLayout.current(spark, dir).get
    val before = logicalPostings(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // orphan 1: empty (torn) job.txt
    val orphan = s"$dir/${IndexLayout.nextSegDir(spark, dir)}"
    fs.mkdirs(new Path(orphan))
    fs.create(new Path(orphan, "job.txt"), true).close()
    val batch = CorpusGen.generate(spark, 10, seed = 404L)
    val r = IndexBuilder.resume(spark, batch, dir, c)
    assert(r.docs == 0, "resume must not build anything from an orphan")
    assert(IndexLayout.current(spark, dir).get == published,
      "published pointer must be untouched")
    assert(logicalPostings(dir) == before,
      "published index data must be untouched")
    assert(!fs.exists(new Path(orphan)), "orphan must be dropped")
    // orphan 2: dir with no job.txt at all — same outcome
    val orphan2 = s"$dir/${IndexLayout.nextSegDir(spark, dir)}"
    fs.mkdirs(new Path(orphan2))
    IndexBuilder.resume(spark, batch, dir, c)
    assert(IndexLayout.current(spark, dir).get == published)
    assert(logicalPostings(dir) == before)
    // with NOTHING published, a descriptor-less orphan still falls through
    // to a fresh build (first-ever job crashed at dir creation)
    val dir2 = SparkTestSession.tempDir("graft-resume-orphan2")
    val o2 = s"$dir2/${IndexLayout.segDirName(0)}"
    fs.mkdirs(new Path(o2))
    IndexBuilder.resume(spark, docs, dir2, c)
    assert(IndexLayout.current(spark, dir2).nonEmpty)
    assert(logicalPostings(dir2) == before)
  }

  test("resume publishes a build killed before the pointer flip") {
    val ref = SparkTestSession.tempDir("graft-resume-ref2")
    val dir = SparkTestSession.tempDir("graft-resume-unpub")
    val docs = CorpusGen.generate(spark, 120)
    val c = IndexConf(numBuckets = 4)
    IndexBuilder.build(spark, docs, ref, c)
    IndexBuilder.build(spark, docs, dir, c)
    // simulate dying right before publish: delete every pointer file
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(dir)).foreach { st =>
      if (st.getPath.getName.startsWith("current-"))
        fs.delete(st.getPath, false)
    }
    assert(IndexLayout.current(spark, dir).isEmpty)
    IndexBuilder.resume(spark, docs, dir, c)
    assert(IndexLayout.current(spark, dir).nonEmpty)
    assert(logicalPostings(dir) == logicalPostings(ref))
  }

  test("resume after a flip-complete REBUILD crash clears stale tombstones") {
    // r5 review: a crash in the publish→cleanup window of a full rebuild
    // left tombstones aimed at the SUPERSEDED id space, and resume's
    // flip-complete early-return skipped cleanup — since a fresh build
    // reuses ids from 0, the stale entries silently masked arbitrary new
    // docs forever (and the next full compaction would drop them).
    import graft.query.{Deletes, QueryEngine}
    val dir = SparkTestSession.tempDir("graft-resume-staletomb")
    val c = IndexConf(numBuckets = 4)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 80), dir, c)
    Deletes.delete(spark, dir, Seq(0L, 3L))
    val stale = spark.read.schema("docId LONG")
      .parquet(s"$dir/tombstones").as[Long].collect().toSeq
    val docsNew = CorpusGen.generate(spark, 120, seed = 99L)
    IndexBuilder.build(spark, docsNew, dir, c)
    // recreate the crash window: pointer flipped to the rebuild, cleanup
    // never ran → the old index's tombstones are back on disk
    stale.toDS().toDF("docId").coalesce(1).write
      .parquet(s"$dir/tombstones")
    val url0 = spark.read.parquet(SegmentChecks.docsPaths(dir): _*)
      .filter($"docId" === 0L).select($"url").head().getString(0)
    val eng = new QueryEngine(spark, dir, c.numBuckets)
    assert(eng.realtimeGet(url0).count() == 0,
      "bug precondition: the stale tombstone masks the reused id")
    IndexBuilder.resume(spark, docsNew, dir, c)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$dir/tombstones")),
      "resume over a flip-complete rebuild must run postBuildCleanup")
    eng.invalidateCache()
    assert(eng.realtimeGet(url0).count() == 1)
  }

  test("resume after a flip-complete compaction crash GCs superseded dirs") {
    val dir = SparkTestSession.tempDir("graft-resume-compactgc")
    // gcGraceMs = 0: the faked leftover dir below has mtime "now", and this
    // test asserts IMMEDIATE reaping; the grace path is covered in
    // CompactionSpec ("compacted index == oracle...")
    val c = IndexConf(numBuckets = 4, autoCompactGenerations = 0,
      gcGraceMs = 0L)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 80), dir, c)
    IndexBuilder.append(spark,
      CorpusGen.generate(spark, 40, seed = 7L), dir, c)
    Compaction.run(spark, dir, c)
    // recreate the crash window: merged gen published, inputs not yet GC'd
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new Path(s"$dir/seg-000000")
    fs.mkdirs(orphan)
    fs.create(new Path(orphan, "leftover"), true).close()
    IndexBuilder.resume(spark, CorpusGen.generate(spark, 1), dir, c)
    assert(!fs.exists(orphan),
      "resume over a flip-complete compaction must GC unreferenced dirs")
  }

  test("pre-field orphan: --buckets below a completed bucket rejects loudly") {
    // job.txt written before the buckets= field existed (buckets=0): resume
    // falls back to the caller's count — but the orphan's own manifest is a
    // hard LOWER BOUND. Finishing a 6-bucket orphan under --buckets 2 would
    // publish a mixed mod-2/mod-6 termBucket layout (silent query misses).
    val dir = SparkTestSession.tempDir("graft-resume-prefield")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = IndexLayout.segDirName(0)
    fs.mkdirs(new Path(s"$dir/$orphan"))
    IndexLayout.writeJobDescriptor(spark, s"$dir/$orphan",
      JobDescriptor("build", 0L, Seq(orphan), buckets = 0))
    Seq(ManifestRow(5, "a", "z", 1L, 1L, 1L, 1L, Array.empty[String], 0L,
      "complete")).toDS().coalesce(1).write.parquet(s"$dir/$orphan/manifest")
    val docs = CorpusGen.generate(spark, 30)
    val err = intercept[IllegalArgumentException] {
      IndexBuilder.resume(spark, docs, dir, IndexConf(numBuckets = 2))
    }
    assert(err.getMessage.contains("contradicts orphan segment"))
    // a count above the recorded maximum passes the gate and finishes the job
    val r = IndexBuilder.resume(spark, docs, dir, IndexConf(numBuckets = 6))
    assert(r.buckets == 6)
    assert(IndexLayout.current(spark, dir).get == Seq(orphan),
      "resume must publish the orphan's own recorded publish set")
  }
}
