package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.index.{Compaction, IndexBuilder, IndexConf, IndexLayout}
import graft.oracle.SeqOracle
import graft.query.{Deletes, QueryEngine}

/** Compaction folds tombstones in and recomputes corpus/term stats: the
  * compacted index must be rank-identical to an oracle over the surviving
  * corpus (original docIds preserved). Publication is atomic at the pointer
  * flip — a crash injected after all data is written but before the flip
  * leaves the previous generation serving, unchanged.
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("compacted index == oracle over surviving corpus") {
    val dir = SparkTestSession.tempDir("graft-compact")
    val n = 200L
    val conf = IndexConf(numBuckets = 4, segmentMaxDocs = 32)
    IndexBuilder.build(spark, CorpusGen.generate(spark, n), dir, conf)

    val victims = Seq(3L, 17L, 42L, 99L, 150L)
    Deletes.delete(spark, dir, victims)
    Compaction.run(spark, dir, conf)

    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ls(sub: String = "") = fs.listStatus(
        new org.apache.hadoop.fs.Path(if (sub.isEmpty) dir else s"$dir/$sub"))
      .map(_.getPath.getName).toSeq
    // exactly one live segdir — but within the GC grace period the retired
    // generation, the superseded pointer, and the folded tombstone files all
    // stay on disk (condemned, not deleted) so an in-flight stale snapshot
    // can finish; the folded files are marked by a .condemned-<seg> marker
    assert(IndexLayout.current(spark, dir).get.size == 1)
    val live = IndexLayout.current(spark, dir).get.head
    assert(ls().contains("seg-000000") && live != "seg-000000",
      "retired generation reaped before its grace expired")
    assert(ls().count(_.matches("current-\\d{6}\\.txt")) == 2,
      "superseded pointer reaped before its grace expired")
    assert(ls("tombstones").exists(_.startsWith(".condemned-")) &&
      ls("tombstones").exists(n => !n.startsWith(".") && !n.startsWith("_")),
      "full merge must condemn, not delete, the folded tombstone files")
    // grace 0 = reap now: condemned files + dir, retired seg, old pointers
    IndexLayout.gcUnreferenced(spark, dir, graceMs = 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")))
    // the reap also retires the merge's folded-tombstones.txt snapshot, so
    // a later resume replaying the condemn step is a no-op: without this, a
    // replay recreated the marker (fresh ts, phantom file names) and
    // resurrected an empty tombstones/ dir on EVERY later resume
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/$live/folded-tombstones.txt")),
      "reap must retire the folded snapshot with its files")
    IndexLayout.condemnFoldedTombstones(spark, dir, live) // replay = no-op
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")),
      "condemn replay after reap must not resurrect tombstones/")
    assert(ls().filter(_.startsWith("seg-")) == Seq(live))
    assert(ls().count(_.matches("current-\\d{6}\\.txt")) == 1)
    assert(IndexLayout.current(spark, dir).get == Seq(live))

    val all = CorpusGen.generateLocal(n).sortBy(_.url).zipWithIndex
      .map { case (d, i) => (i.toLong, d.text, d.lang) }
    val survivors = all.filterNot(d => victims.contains(d._1))
    val oracle = new SeqOracle(survivors)

    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    Seq("the", "w00001 w00002", "w00003 AND the", "w00017 NOT w00042")
      .foreach { q =>
        val expect = oracle.topK(q, 10)
        Seq(
          engine.searchWand(q, 10), engine.searchExhaustive(q, 10)
        ).foreach { df =>
          val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          assert(got.map(_._1) == expect.map(_._1),
            s"q='$q'\n got=$got\n exp=$expect")
          got.zip(expect).foreach { case ((_, gs), (_, es)) =>
            assert(math.abs(gs - es) < 1e-9, s"q='$q' score $gs != $es")
          }
          assert(!got.exists(g => victims.contains(g._1)))
        }
      }
    SegmentChecks.assertSegment(dir, live)
  }

  // ---- tiered (partial) merge: Compaction.merge folds a generation
  //      subset, leaving the base untouched (r5) ----

  private def mkReplacement(seed: Long, i: Long, n: Long,
      marker: String): graft.corpus.WebDoc = {
    val victim = CorpusGen.doc(seed, i, n)
    val newText = s"$marker " + victim.text
    victim.copy(text = newText,
      html = s"<html><head><title>t</title></head><body>$newText</body></html>"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  test("tail merge: base untouched, upsert victims stay hidden, rank-identical") {
    val dir = SparkTestSession.tempDir("graft-tiered")
    val conf = IndexConf(numBuckets = 4, segmentMaxDocs = 32)
    val (nA, nB) = (120L, 30L)
    IndexBuilder.build(spark, CorpusGen.generate(spark, nA), dir, conf)
    IndexBuilder.append(spark,
      CorpusGen.generate(spark, nB, seed = 311L), dir, conf)
    // batch C: one upsert of a B url, one upsert of a BASE url (its
    // supersedes entry targets the UNMERGED base — the forwarding case),
    // plus 10 fresh docs
    val replB = mkReplacement(311L, 3L, nB, "upserttailtoken")
    val replBase = mkReplacement(CorpusGen.DefaultSeed, 10L, nA, "upsertbasetoken")
    val cBatch = replB +: replBase +: CorpusGen.generateLocal(10, seed = 312L)
    IndexBuilder.append(spark, spark.createDataset(cBatch), dir, conf)
    Deletes.delete(spark, dir, Seq(5L)) // delete targeting the BASE

    val before = IndexLayout.current(spark, dir).get
    assert(before.size == 3)
    Compaction.merge(spark, dir, conf, before.drop(1)) // fold the tail only

    val after = IndexLayout.current(spark, dir).get
    assert(after.size == 2 && after.head == before.head,
      s"base generation must survive untouched: $after")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the base-targeting tombstone must SURVIVE a partial merge
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")))
    SegmentChecks.assertSegment(dir, after.last, "supersedes")

    // oracle: base docs ALL stay (the tombstoned and base-superseded ones
    // still count in the unmerged base's stats/postings — filtered from
    // expected results, like any pre-compaction delete), B's superseded
    // victim is GONE (physically dropped by the merge, out of stats), C's
    // docs present
    val aDocs = CorpusGen.generateLocal(nA).sortBy(_.url).zipWithIndex
      .map { case (d, i) => (i.toLong, d.text, d.lang) }
    val baseVictimId = aDocs
      .find(_._2 == CorpusGen.doc(CorpusGen.DefaultSeed, 10L, nA).text).get._1
    val bDocs = CorpusGen.generateLocal(nB, seed = 311L).sortBy(_.url)
      .zipWithIndex.map { case (d, i) => (nA + i, d.text, d.lang) }
      .filterNot { case (_, text, _) =>
        text == CorpusGen.doc(311L, 3L, nB).text } // victim dropped
    val cDocs = cBatch.sortBy(_.url).zipWithIndex
      .map { case (d, i) => (nA + nB + i, d.text, d.lang) }
    val oracle = new SeqOracle(aDocs ++ bDocs ++ cDocs)
    val hidden = Set(5L, baseVictimId)
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    assert(engine.stats.n == nA + (nB - 1) + 12)
    Seq("the", "w00001 w00002", "w00003 AND the", "upserttailtoken",
        "upsertbasetoken")
      .foreach { q =>
        val expect = oracle.topK(q, 20).filterNot(r => hidden(r._1)).take(10)
        val got = engine.search(q, 10).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got.map(_._1) == expect.map(_._1),
          s"q='$q'\n got=$got\n exp=$expect")
        got.zip(expect).foreach { case ((_, gs), (_, es)) =>
          assert(math.abs(gs - es) < 1e-9, s"q='$q' score $gs != $es") }
      }
    // a later FULL merge folds tombstone + forwarded supersedes; the folded
    // tombstone files are condemned and reaped once the grace expires
    Compaction.run(spark, dir, conf)
    IndexLayout.gcUnreferenced(spark, dir, graceMs = 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")))
    val full = new QueryEngine(spark, dir, conf.numBuckets)
    assert(full.stats.n == (nA - 2) + (nB - 1) + 12)
    val fullIds = full.search("the", 500).collect().map(_.getLong(0)).toSet
    assert(!fullIds.contains(5L) && !fullIds.contains(baseVictimId))
    SegmentChecks.assertSegment(dir, IndexLayout.current(spark, dir).get.head)
  }

  test("partial-merge crash before publish: old set serves; resume finishes, tombstones survive") {
    val dir = SparkTestSession.tempDir("graft-tiered-crash")
    val conf = IndexConf(numBuckets = 4)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 100L), dir, conf)
    IndexBuilder.append(spark,
      CorpusGen.generate(spark, 20L, seed = 321L), dir, conf)
    IndexBuilder.append(spark,
      CorpusGen.generate(spark, 20L, seed = 322L), dir, conf)
    Deletes.delete(spark, dir, Seq(7L)) // base-targeting delete
    val before = IndexLayout.current(spark, dir).get

    intercept[RuntimeException] {
      Compaction.runInternal(spark, dir, conf, failBeforePublish = true,
        subsetOpt = Some(before.drop(1)))
    }
    assert(IndexLayout.current(spark, dir).get == before) // old set serves
    assert(new QueryEngine(spark, dir, conf.numBuckets).stats.n == 140)

    // resume replays the compaction-partial descriptor: all buckets are
    // complete, so it publishes the descriptor's set and KEEPS tombstones
    IndexBuilder.resume(spark,
      spark.emptyDataset[graft.corpus.WebDoc], dir, conf)
    val after = IndexLayout.current(spark, dir).get
    assert(after.size == 2 && after.head == before.head, s"after=$after")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")))
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    assert(engine.stats.n == 140)
    assert(!engine.search("the", 500).collect().map(_.getLong(0))
      .contains(7L), "base delete must keep masking after the partial merge")
  }

  test("auto policy: tail fold when the base dominates, full merge when it doesn't") {
    // base-dominant: 300-doc base + 3×20 appends at G=2 → the policy folds
    // only the tail; the base dir survives by name
    val dir = SparkTestSession.tempDir("graft-tiered-auto")
    val conf = IndexConf(numBuckets = 4, autoCompactGenerations = 2)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 300L), dir, conf)
    val base = IndexLayout.current(spark, dir).get.head
    IndexBuilder.append(spark, CorpusGen.generate(spark, 20L, seed = 331L), dir, conf)
    IndexBuilder.append(spark, CorpusGen.generate(spark, 20L, seed = 332L), dir, conf)
    // 3rd gen exceeds G=2 → tail fold inside this append
    val gens = IndexLayout.current(spark, dir).get
    assert(gens.size == 2 && gens.head == base,
      s"expected [base, mergedTail], got $gens")
    assert(new QueryEngine(spark, dir, conf.numBuckets).stats.n == 340)

    // no dominant generation: similar-sized gens escalate to a FULL merge
    val dir2 = SparkTestSession.tempDir("graft-tiered-auto-full")
    IndexBuilder.build(spark, CorpusGen.generate(spark, 30L), dir2, conf)
    IndexBuilder.append(spark, CorpusGen.generate(spark, 40L, seed = 341L), dir2, conf)
    IndexBuilder.append(spark, CorpusGen.generate(spark, 40L, seed = 342L), dir2, conf)
    assert(IndexLayout.current(spark, dir2).get.size == 1,
      "similar-sized generations should full-merge")
    assert(new QueryEngine(spark, dir2, conf.numBuckets).stats.n == 110)
  }

  // ---- docId high-water monotonicity: a partial merge keeps the global
  //      tombstones dir, so ids tombstoned ABOVE the survivors' max must
  //      never be reissued by a later append (they would come back
  //      silently masked — data loss with no error) ----

  private def marked(seed: Long, n: Int, marker: String) =
    CorpusGen.generateLocal(n, seed = seed).map { d =>
      val t = s"$marker " + d.text
      d.copy(text = t,
        html = s"<html><head><title>t</title></head><body>$t</body></html>"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  test("append after tail merge never reuses tombstoned ids above the survivors' max") {
    val dir = SparkTestSession.tempDir("graft-hwm")
    val conf = IndexConf(numBuckets = 4)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 100L), dir, conf)
    IndexBuilder.append(spark,
      CorpusGen.generate(spark, 20L, seed = 351L), dir, conf) // ids 100..119
    IndexBuilder.append(spark,
      CorpusGen.generate(spark, 10L, seed = 352L), dir, conf) // ids 120..129
    Deletes.delete(spark, dir, Seq(126L, 127L, 128L, 129L)) // top of the range
    val gens = IndexLayout.current(spark, dir).get
    Compaction.merge(spark, dir, conf, gens.drop(1)) // tail {B,C}; base stays
    // the merged segment's high-water must cover the DROPPED ids, not just
    // the survivors' max (125)
    assert(IndexLayout.combinedStats(spark, dir).maxDocId == 129L)

    val d = marked(999L, 5, "hwmtoken")
    IndexBuilder.append(spark, spark.createDataset(d), dir, conf)
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    val got = engine.search("hwmtoken", 10).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(130L, 131L, 132L, 133L, 134L),
      s"appended docs must get FRESH ids above every tombstoned id: ${got.toSeq}")
  }

  test("append after an all-dead partial merge skips ids the tombstone view can mask") {
    val dir = SparkTestSession.tempDir("graft-hwm0")
    val conf = IndexConf(numBuckets = 4)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 100L), dir, conf)
    IndexBuilder.append(spark,
      CorpusGen.generate(spark, 20L, seed = 361L), dir, conf) // ids 100..119
    Deletes.delete(spark, dir, (100L to 119L)) // entire tail generation dead
    val gens = IndexLayout.current(spark, dir).get
    Compaction.merge(spark, dir, conf, gens.drop(1)) // nDocs==0 branch
    assert(IndexLayout.current(spark, dir).get.size == 1)
    // live stats high-water (99) now sits BELOW surviving tombstones
    // (100..119): the append offset backstop must clear them
    val d = marked(998L, 3, "hwmztoken")
    IndexBuilder.append(spark, spark.createDataset(d), dir, conf)
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    val got = engine.search("hwmztoken", 10).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(120L, 121L, 122L),
      s"appended docs must not be masked by surviving tombstones: ${got.toSeq}")
  }

  test("stale engine realtimeGet self-heals after compaction GCs its segments") {
    val dir = SparkTestSession.tempDir("graft-rtg-stale")
    val conf = IndexConf(numBuckets = 4)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 80L), dir, conf)
    IndexBuilder.append(spark,
      CorpusGen.generate(spark, 20L, seed = 371L), dir, conf)
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    val url = CorpusGen.doc(CorpusGen.DefaultSeed, 10L, 80L).url
    assert(engine.realtimeGet(url).collect().length == 1)
    // full merge + GC deletes every dir the engine resolved at construction
    Compaction.run(spark, dir, conf)
    val hit = engine.realtimeGet(url).collect() // must refresh, not crash
    assert(hit.length == 1 && hit.head.getAs[String]("url") == url)
  }

  test("auto-compaction tolerates pre-r5 stats files without maxDocId") {
    val dir = SparkTestSession.tempDir("graft-oldstats")
    val conf = IndexConf(numBuckets = 4, autoCompactGenerations = 1)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 60L), dir,
      conf.copy(autoCompactGenerations = 0))
    // rewrite the base generation's stats in the pre-r5 schema (no maxDocId)
    val gen = IndexLayout.current(spark, dir).get.head
    val p = s"$dir/$gen/stats"
    val old = spark.read.parquet(p)
      .select("n", "avgdl", "totalTerms", "titleAvgdl", "titleTerms")
      .collect().head
    Seq((old.getLong(0), old.getDouble(1), old.getLong(2),
        old.getDouble(3), old.getLong(4)))
      .toDF("n", "avgdl", "totalTerms", "titleAvgdl", "titleTerms")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
    // append over the legacy index: the offset read falls back to the docs
    // scan AND the auto-compaction policy's per-gen stats read must not
    // resolve the missing column
    IndexBuilder.append(spark,
      CorpusGen.generate(spark, 15L, seed = 381L), dir, conf)
    assert(IndexLayout.current(spark, dir).get.size == 1,
      "G=1 policy should have merged down to one generation")
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    assert(engine.stats.n == 75L)
    assert(IndexLayout.combinedStats(spark, dir).maxDocId == 74L)
  }

  test("queries racing appends never crash or see torn state") {
    // hammer the ONE-volatile-IndexView contract: snapshot() swaps the
    // whole snapshot, so a query thread racing an append's pointer flip
    // must always land on a consistent (old or new) view — never a torn
    // mix of half-updated fields. Appends only (no compaction) keep this
    // test focused on the snapshot swap; the compaction/GC overlap is
    // exercised by "queries racing appends with auto-compaction" below.
    val dir = SparkTestSession.tempDir("graft-race")
    val conf = IndexConf(numBuckets = 4, autoCompactGenerations = 0)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 100L), dir, conf)
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    val url = CorpusGen.doc(CorpusGen.DefaultSeed, 7L, 100L).url
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readers = (1 to 2).map { t =>
      new Thread(() => {
        try {
          while (!stop.get()) {
            val hits = engine.search(if (t == 1) "the" else "w00003", 5)
              .collect()
            assert(hits.forall(r =>
              r.getLong(0) >= 0 && !r.getDouble(1).isNaN))
            assert(engine.realtimeGet(url).collect().length == 1)
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    readers.foreach(_.start())
    try {
      (0 until 4).foreach { i =>
        IndexBuilder.append(spark,
          CorpusGen.generate(spark, 10L, seed = 400L + i), dir, conf)
      }
    } finally {
      stop.set(true)
      readers.foreach(_.join(60000))
    }
    assert(errs.isEmpty, s"racing query failed: ${Option(errs.peek())}")
    assert(IndexLayout.current(spark, dir).get.size == 5)
    val after = engine.search("the", 5).collect()
    assert(after.length == 5)
  }

  test("queries racing appends with auto-compaction never crash (grace GC)") {
    // the r5 grace GC closes the query-vs-GC overlap: a compaction retires
    // generations mid-query, but their files, the superseded pointer, and
    // the folded tombstone files all stay on disk for gcGraceMs — a reader
    // holding the pre-flip snapshot finishes cleanly instead of hitting
    // FileNotFound on a just-deleted segment dir.
    val dir = SparkTestSession.tempDir("graft-race-compact")
    val conf = IndexConf(numBuckets = 4, autoCompactGenerations = 2)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 100L), dir, conf)
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    val url = CorpusGen.doc(CorpusGen.DefaultSeed, 7L, 100L).url
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readers = (1 to 2).map { t =>
      new Thread(() => {
        try {
          while (!stop.get()) {
            val hits = engine.search(if (t == 1) "the" else "w00003", 5)
              .collect()
            assert(hits.forall(r =>
              r.getLong(0) >= 0 && !r.getDouble(1).isNaN))
            assert(engine.realtimeGet(url).collect().length == 1)
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    readers.foreach(_.start())
    try {
      (0 until 4).foreach { i =>
        IndexBuilder.append(spark,
          CorpusGen.generate(spark, 10L, seed = 500L + i), dir, conf)
        engine.invalidateCache() // post-compaction contract (CLAUDE.md)
      }
    } finally {
      stop.set(true)
      readers.foreach(_.join(120000))
    }
    assert(errs.isEmpty, s"racing query failed: ${Option(errs.peek())}")
    // G=2 policy kept the live set folded while readers hammered it
    assert(IndexLayout.current(spark, dir).get.size <= 3)
    val after = new QueryEngine(spark, dir, conf.numBuckets)
    assert(after.stats.n == 140L)
  }

  test("deletes issued after a compaction crash survive the resume") {
    // the merged segment folds a SNAPSHOT of the tombstone files (recorded
    // as folded-tombstones.txt before any data is written). A delete that
    // lands between the crash and the resume is NOT in that snapshot; the
    // pre-grace resume wiped the whole tombstones dir when it finished the
    // merge, silently resurrecting exactly those deletes.
    val dir = SparkTestSession.tempDir("graft-resume-resurrect")
    val conf = IndexConf(numBuckets = 4)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 100L), dir, conf)
    Deletes.delete(spark, dir, Seq(7L))
    intercept[RuntimeException] {
      Compaction.runInternal(spark, dir, conf, failBeforePublish = true)
    }
    Deletes.delete(spark, dir, Seq(12L)) // lands while the merge is "down"
    val url12 = spark.read.parquet(SegmentChecks.docsPaths(dir): _*)
      .filter($"docId" === 12L).select($"url").head().getString(0)
    IndexBuilder.resume(spark,
      spark.emptyDataset[graft.corpus.WebDoc], dir, conf)
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    assert(engine.stats.n == 99L) // the merge physically dropped only 7
    assert(engine.realtimeGet(url12).count() == 0,
      "delete issued after the crash was resurrected by the resume")
    // the surviving tombstone is an ordinary file the NEXT merge folds
    Compaction.run(spark, dir, conf)
    IndexLayout.gcUnreferenced(spark, dir, graceMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")))
    val engine2 = new QueryEngine(spark, dir, conf.numBuckets)
    assert(engine2.stats.n == 98L)
    assert(engine2.realtimeGet(url12).count() == 0)
  }

  test("tombstones dir survives GC while a delete job is mid-write") {
    // a Deletes.delete writes through tombstones/_temporary; the old reaper
    // treated everything _-prefixed as removable metadata and recursively
    // deleted the dir — wiping the in-flight job's committed task files
    // (a silently lost delete). The reaper must remove only files it
    // condemned, and the dir only when _SUCCESS alone remains (and then
    // non-recursively, so any racer aborts the rmdir).
    val dir = SparkTestSession.tempDir("graft-tomb-inflight")
    val conf = IndexConf(numBuckets = 4)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 60L), dir, conf)
    Deletes.delete(spark, dir, Seq(3L))
    Compaction.run(spark, dir, conf) // full merge: condemns the folded files
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tomb = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    assert(fs.exists(tomb))
    fs.mkdirs(new org.apache.hadoop.fs.Path(tomb, "_temporary/0"))
    IndexLayout.gcUnreferenced(spark, dir, graceMs = 0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(tomb, "_temporary/0")),
      "GC recursively deleted the tombstones dir over an in-flight writer")
    // ...but the condemned data files themselves were reaped
    assert(!fs.listStatus(tomb).exists { st =>
      val n = st.getPath.getName; !n.startsWith("_") && !n.startsWith(".")
    })
    fs.delete(new org.apache.hadoop.fs.Path(tomb, "_temporary"), true)
    IndexLayout.gcUnreferenced(spark, dir, graceMs = 0L)
    assert(!fs.exists(tomb), "quiet empty tombstones dir should be dropped")
  }

  test("GC spares a manifest-less segment whose deep files are fresh") {
    // a segment dir's own mtime only advances when a DIRECT child is
    // created — a long encode phase looks stale at the top while its
    // parquet tasks churn files deep under postings/. The reaper must
    // treat a manifest-less dir as in-flight while ANY nested mtime is
    // within grace, and as a crash orphan (reap) only when the whole tree
    // has been quiet for the grace period.
    val dir = SparkTestSession.tempDir("graft-gc-inflight")
    val conf = IndexConf(numBuckets = 4)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 30L), dir, conf)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seg = new org.apache.hadoop.fs.Path(s"$dir/seg-000099")
    val deep = new org.apache.hadoop.fs.Path(seg, "postings/termBucket=0")
    fs.mkdirs(deep)
    Seq(new org.apache.hadoop.fs.Path(seg, "job.txt"),
        new org.apache.hadoop.fs.Path(deep, "part-0.parquet")).foreach { p =>
      val out = fs.create(p, true); out.write(1); out.close()
    }
    // age every DIRECTORY past the grace; the deep file stays fresh
    val old = System.currentTimeMillis() - 10L * 60 * 1000
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val kids = fs.listStatus(p).toSeq
      kids ++ kids.filter(_.isDirectory).flatMap(s => walk(s.getPath))
    }
    walk(seg).filter(_.isDirectory).foreach(s => fs.setTimes(s.getPath, old, -1))
    fs.setTimes(seg, old, -1)
    val grace = 60L * 1000
    IndexLayout.gcUnreferenced(spark, dir, graceMs = grace)
    assert(fs.exists(seg), "in-flight (manifest-less) segment reaped mid-encode")
    // now the whole tree goes quiet: a genuine orphan, reaped
    walk(seg).foreach(s => fs.setTimes(s.getPath, old, -1))
    fs.setTimes(seg, old, -1)
    IndexLayout.gcUnreferenced(spark, dir, graceMs = grace)
    assert(!fs.exists(seg), "quiet orphan must still be reaped after grace")
    // a published segment is never touched
    assert(IndexLayout.current(spark, dir).get == Seq("seg-000000"))
  }

  test("racing publishers never install a torn pointer") {
    // pointer temps are per-writer unique: a shared tmp name let one racing
    // publisher truncate another's in-flight bytes and rename TORN content
    // into place. Hammer publish from many threads and assert every pointer
    // ever installed is EXACTLY one writer's complete set.
    val dir = SparkTestSession.tempDir("graft-pub-race")
    val writers = 6
    val iters = 8
    val sets = (0 until writers).map(i => Seq(f"seg-$i%06d", f"seg-9$i%05d"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until writers).map { i =>
      new Thread(() => {
        var it = 0
        while (it < iters) {
          try IndexLayout.publish(spark, dir, sets(i))
          catch {
            case _: IllegalStateException => // lost the rename race: expected
            case e: Throwable             => errs.add(e)
          }
          it += 1
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"unexpected publish failure: ${Option(errs.peek())}")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pointers = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath)
      .filter(_.getName.matches("current-\\d{6}\\.txt"))
    assert(pointers.nonEmpty)
    // the library's pointer read: tolerant of the local ChecksumFileSystem
    // sidecar race (two same-name renames can pair one writer's complete
    // bytes with the other's crc — content stays whole, the sidecar lies)
    pointers.foreach { p =>
      val lines = IndexLayout.readLines(fs, p)
      assert(sets.contains(lines), s"torn pointer ${p.getName}: $lines")
    }
    // the live resolution is one writer's complete set, never a mix
    assert(sets.contains(IndexLayout.current(spark, dir).get))
  }

  test("crash before publish leaves the old generation serving") {
    val dir = SparkTestSession.tempDir("graft-compact-crash")
    val n = 150L
    val conf = IndexConf(numBuckets = 4)
    IndexBuilder.build(spark, CorpusGen.generate(spark, n), dir, conf)
    val engine = new QueryEngine(spark, dir, conf.numBuckets)
    val before = engine.search("the", 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pointerBefore = IndexLayout.current(spark, dir)

    Deletes.delete(spark, dir, Seq(before.head._1))
    intercept[RuntimeException] {
      Compaction.runInternal(spark, dir, conf, failBeforePublish = true)
    }

    // pointer unchanged → a fresh reader sees the OLD index (tombstones still
    // pending, so the delete still masks at query time — but no data loss)
    assert(IndexLayout.current(spark, dir) == pointerBefore)
    val fresh = new QueryEngine(spark, dir, conf.numBuckets)
    assert(fresh.stats.n == n)
    // retrying the compaction completes and converges to the same state
    Compaction.run(spark, dir, conf)
    val after = new QueryEngine(spark, dir, conf.numBuckets)
    assert(after.stats.n == n - 1)
    assert(!after.search("the", 10).collect().map(_.getLong(0))
      .contains(before.head._1))
  }
}
