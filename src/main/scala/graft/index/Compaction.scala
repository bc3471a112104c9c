package graft.index

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Segment compaction — the analog of Solr/Lucene background merges
  * (SURVEY.md §4.2 "segment merge policy" / "deletes as tombstones until
  * merge"). Physically drops tombstoned postings, merges live segment dirs
  * (append batches) — all of them ([[run]]) or a tiered subset ([[merge]],
  * r5) — into one, and recomputes df/cf and corpus stats from the survivors
  * (Lucene likewise only corrects df/norms at merge time), so
  * post-compaction BM25 scores equal a fresh build over the surviving corpus
  * with the original docIds.
  *
  * The job never touches the source corpus: it decodes the existing
  * segments (a narrow scan of the postings tables), filters, and re-encodes
  * through the builder's shared encode path.
  *
  * Atomicity: everything is written into a NEW segment dir; the old
  * generation is published and untouched until the single pointer-file flip
  * ([[IndexLayout.publish]]). A crash at ANY earlier point — including
  * between the data writes — leaves the old index fully serving (verified by
  * the injected-crash test via [[Compaction.runInternal]]).
  */
object Compaction {

  def run(spark: SparkSession, indexDir: String,
      conf: IndexConf = IndexConf()): Unit =
    runInternal(spark, indexDir, conf, failBeforePublish = false, None)

  /** Tiered (partial) merge: fold ONLY `gens` — a subset of the published
    * set — into one new segment dir, leaving the other generations' files
    * untouched (published = remaining :+ merged, one pointer flip). The
    * Lucene tiered-merge analog: continuous ingest folds its small append
    * tail at O(tail) cost instead of rewriting the whole index every G
    * batches; a periodic FULL [[run]] (the auto policy escalates when the
    * tail rivals the base) gives the classic logarithmic amortization.
    *
    * Correctness deltas vs a full merge:
    *  - the drop set is still the FULL tombstone view (global dir + every
    *    live generation's supersedes), so merged content sheds everything
    *    dead, including docs superseded by UNMERGED newer generations;
    *  - the merged gens' own `supersedes/` entries are FORWARDED into the
    *    new segment (they may target docIds in unmerged generations —
    *    dropping them would resurrect old upsert victims); entries whose
    *    targets were physically dropped are harmless no-ops;
    *  - the global `tombstones/` dir is KEPT (its entries may target
    *    unmerged generations); only a full merge folds and clears it.
    */
  def merge(spark: SparkSession, indexDir: String, conf: IndexConf,
      gens: Seq[String]): Unit =
    runInternal(spark, indexDir, conf, failBeforePublish = false, Some(gens))

  /** Per-generation doc counts from the single-row stats tables. Shared by
    * the auto-compaction policy and the CLI `--tail` selection so the two
    * cannot drift. Column-pruned select("n"): generations written before
    * the maxDocId column existed must not crash the policy.
    */
  def generationCounts(spark: SparkSession, indexDir: String,
      gens: Seq[String]): Seq[(String, Long)] = {
    import spark.implicits._
    gens.map(g => g -> spark.read.parquet(IndexLayout.statsDir(s"$indexDir/$g"))
      .select($"n").as[Long].head())
  }

  /** @param failBeforePublish test hook: throw after all data of the new
    *   generation is on disk but before the pointer flip — simulates the
    *   worst-placed crash.
    * @param subsetOpt Some(gens) = partial merge of exactly those published
    *   generations ([[merge]]); None = full merge of the live set.
    */
  private[graft] def runInternal(spark: SparkSession, indexDir: String,
      conf: IndexConf, failBeforePublish: Boolean,
      subsetOpt: Option[Seq[String]] = None): Unit = {
    import spark.implicits._
    val published = IndexLayout.current(spark, indexDir).getOrElse(return)
    val gens = subsetOpt.getOrElse(published)
    require(gens.nonEmpty && gens.forall(published.contains),
      s"merge subset $gens not within published $published")
    val remaining = published.filterNot(gens.contains)
    val partial = remaining.nonEmpty
    // delete-by-id tombstones PLUS every live segment's upsert supersedes —
    // the FULL view even for a partial merge (an unmerged newer generation
    // may supersede docs inside the merged set). The global dir is read as
    // an EXPLICIT file-list snapshot, for two reasons: (1) the tombstone
    // view is consumed by several lazy passes (stats agg, postings
    // anti-join, docs write), and a dir-path read re-lists per pass — a
    // delete() landing mid-merge would make the passes disagree; (2) the
    // snapshot is exactly the set a full merge folds, so only THOSE files
    // are condemned after the flip and a concurrent delete survives
    // (IndexLayout.condemnFoldedTombstones). Supersedes dirs are immutable
    // segment content and stay dir-path reads.
    val foldedTombFiles = IndexLayout.committedTombstoneFiles(spark, indexDir)
    val tombSources = foldedTombFiles ++
      IndexLayout.supersedesPaths(spark, indexDir, published)
    if (tombSources.isEmpty && gens.size == 1)
      return // nothing to fold or merge
    val tombs =
      if (tombSources.nonEmpty)
        IndexLayout.readIds(spark, tombSources).distinct()
      else spark.emptyDataset[Long].toDF("docId")
    // the merged generations' upsert victims, for a partial merge to carry
    // on: their entries may target docIds in UNMERGED generations
    def forwardSupersedes(mode: SaveMode, to: String): Unit = {
      val paths = IndexLayout.supersedesPaths(spark, indexDir, gens)
      if (paths.nonEmpty)
        IndexLayout.readIds(spark, paths).distinct()
          .write.mode(mode).parquet(to)
    }

    // surviving docs + new corpus stats: a NARROW anti-join over the
    // no-text docs tables (~50 B/doc), consumed twice — stats agg here,
    // write pass below. Recomputing the second pass beats holding a
    // corpus-scale localCheckpoint in the block store at 10^9+ docs
    // (VERDICT r4 #6 / CLAUDE.md rule 1: prefer recomputing a narrow pass);
    // both passes read identical on-disk inputs, so they agree exactly.
    def docs = IndexLayout.readDocs(spark, indexDir, gens)
      .join(tombs, Seq("docId"), "left_anti")
    val statsRow = docs.agg(count(lit(1)).as("n"),
      sum($"doclen").as("totalTerms"), sum($"titleLen").as("titleTerms"))
      .head()
    // high-water mark from the INPUT generations (pre-anti-join): a partial
    // merge keeps the global tombstones dir alive, so an id that is
    // tombstoned above the SURVIVORS' max must never be reissued by a later
    // append — it would come back silently masked. Narrow one-column scan.
    val inputMaxId = IndexLayout.readDocs(spark, indexDir, gens)
      .agg(max($"docId")).head().getLong(0)
    val nDocs = statsRow.getLong(0)
    if (nDocs == 0 && partial) {
      // every doc of the merged subset is dead (e.g. each batch fully
      // upserted by a later one): no new segment to write — but the dropped
      // generations' supersedes entries may target docs in REMAINING
      // generations, so fold them into the global tombstones dir (the same
      // hide-by-docId mechanism) BEFORE dropping the dirs. Then publish the
      // remaining set alone.
      forwardSupersedes(SaveMode.Append, IndexLayout.tombstonesDir(indexDir))
      IndexLayout.publish(spark, indexDir, remaining)
      IndexLayout.gcUnreferenced(spark, indexDir, conf.gcGraceMs)
      return
    }
    require(nDocs > 0, "compaction would empty the index")
    val stats = CorpusStats.of(nDocs, statsRow.getLong(1), statsRow.getLong(2),
      maxDocId = inputMaxId)

    // hot-term detection needs NO decode and NO checkpoint (VERDICT r3 #2:
    // the old job localCheckpointed the fully-decoded posting stream —
    // ~20 GB/M docs, the exact artifact CLAUDE.md rule 1 forbids): per-term
    // df is EXACT from segment metadata alone — `count` is segment-local df,
    // so sum(count) over a term's segments is its global df. Column-pruned
    // scan of (term, count); the binary posting columns are never touched.
    // df here still counts tombstoned postings — df only steers segment
    // SIZING, and pre-delete df is the safe over-estimate (more segments ×
    // smaller, never an unbounded one).
    val hot: Map[String, Long] = IndexLayout.readPostings(spark, indexDir, gens)
      .select($"term", $"count")
      .groupBy($"term").agg(sum($"count").as("df"))
      .filter($"df" > conf.segmentMaxDocs)
      .as[(String, Long)].collect()
      .map { case (t, df) => t -> IndexBuilder.segLen(df, nDocs, conf) }.toMap

    // decode (including positions) → drop tombstoned postings: consumed
    // EXACTLY ONCE by the encode shuffle, so nothing corpus-scale is ever
    // cached or checkpointed
    val rows = IndexLayout.readPostings(spark, indexDir, gens)
      .as[PostingSegment]
      .flatMap { s =>
        val (ids, tfs, dls) = PostingCodec.decodeAll(s)
        // positions stay VByte-packed per posting through the re-shuffle
        val poss = PostingCodec.slicePositions(s)
        Iterator.tabulate(s.count)(i =>
          (s.term, ids(i), tfs(i), dls(i), poss(i)))
      }
      .toDF("term", "docId", "tf", "doclen", "positions")
      .join(tombs, Seq("docId"), "left_anti")

    val seg = IndexLayout.nextSegDir(spark, indexDir)
    val segPath = s"$indexDir/$seg"
    val publishSet = remaining :+ seg
    // intent record first: resume either finishes this merge (all buckets
    // complete → publish exactly the descriptor's set) or discards the
    // orphan — the round-2 inference would have published it beside its own
    // inputs. Partial merges carry their own kind so resume knows the
    // global tombstones dir must SURVIVE the flip.
    IndexLayout.writeJobDescriptor(spark, segPath,
      JobDescriptor(if (partial) "compaction-partial" else "compaction",
        0L, publishSet, conf.numBuckets))
    // record the folded snapshot beside the descriptor so resume can
    // condemn exactly these files after (or instead of re-doing) the flip
    if (!partial && foldedTombFiles.nonEmpty)
      IndexLayout.writeFoldedTombstones(spark, segPath, foldedTombFiles)
    IndexBuilder.encodePostings(spark, rows, hot, stats.totalTerms, conf,
      segPath, onlyBuckets = None)
    IndexBuilder.writeSideTables(spark, segPath, docs, stats)
    // forwarded before the manifest (the completeness barrier resume
    // checks), like every other data file, and kept after the source
    // segments are GC'd
    if (partial)
      forwardSupersedes(SaveMode.Overwrite, IndexLayout.supersedesDir(segPath))
    IndexBuilder.writeManifest(spark, segPath, Seq.empty, 0L, None)

    if (failBeforePublish)
      throw new RuntimeException("injected crash before compaction publish")

    // PUBLISH — the only step that changes what readers see
    IndexLayout.publish(spark, indexDir, publishSet)
    // full merge only: condemn (don't delete) exactly the snapshot it
    // folded — stale in-flight snapshots keep reading them until the GC
    // grace expires, and a delete() that landed mid-merge survives
    if (!partial) IndexLayout.condemnFoldedTombstones(spark, indexDir, seg)
    IndexLayout.gcUnreferenced(spark, indexDir, conf.gcGraceMs)
  }
}
