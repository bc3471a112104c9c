package graft.index

import java.sql.Timestamp

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

import graft.corpus.{Extractor, WebDoc}

final case class BuildReport(
    docs: Long,
    terms: Long,
    postings: Long,
    segments: Long,
    buckets: Int,
    durationMs: Long)

final case class ExtractedDoc(url: String, warc_ts: Timestamp,
    lang: String, text: String, doclen: Long, title: String, titleLen: Long)
final case class IdDoc(docId: Long, url: String, warc_ts: Timestamp,
    lang: String, text: String, doclen: Long, title: String, titleLen: Long)

/** One tf row headed into the segment encoder; positions are the ascending
  * within-doc token offsets of the (docId, term) posting (length == tf).
  */
final case class TfRow(term: String, segment: Int, docId: Long, tf: Long,
    doclen: Long, positions: Array[Byte])

/** Tf row before segment assignment (as produced narrowly per document).
  * `positions` is the posting's PRE-PACKED position byte run
  * (PostingCodec.packPositions layout) — shuffled in compressed form.
  */
final case class PreTfRow(term: String, docId: Long, tf: Long,
    doclen: Long, positions: Array[Byte])

/** Streaming per-term position accumulator: VByte-packs ascending token
  * offsets as they arrive (first absolute, then gaps — the posVb layout),
  * entirely unboxed.
  */
private final class PosAcc {
  val buf = new ByteBuf(4)
  var count = 0
  private var last = 0
  def add(p: Int): Unit = {
    VByte.encodeTo(buf, (if (count == 0) p else p - last).toLong)
    last = p
    count += 1
  }
  def bytes: Array[Byte] = buf.toArray
}

/** Distributed inverted-index build — the from-scratch replacement for the
  * Solr ingestion the reference delegates to (`solrc.add` at
  * /root/reference/src/indexdata.py:1306). One batch job, TWO shuffles of
  * corpus-scale data (SURVEY.md §3 E1):
  *
  *   read → extract+doclen (narrow) → docId assign (shuffle 1: range by url)
  *        → per-doc tf+positions rows (NARROW — a doc's tokens are all local,
  *          so the (docId,term) aggregation needs no groupBy shuffle; doclen
  *          rides along, so NO doclen join is ever needed)
  *        → segment assign (broadcast join against the tiny hot-term table —
  *          no UDF, no df join) → encode (shuffle 2: hash by (term,segment))
  *          → write partitioned by termBucket
  *        → manifest commit (visibility barrier — the reference's
  *          solrc.commit analog, indexdata.py:1795–1798; write-audit-publish)
  *
  * Scale notes (designed for 10^12 docs / 1000 executors, tested local):
  *  - docIds are dense ranks in global url order: range-partition +
  *    in-partition sort + per-partition offsets (two-pass; the sorted Dataset
  *    is persisted so both passes see identical range boundaries).
  *  - block-max metadata is avgdl- and idf-free ((maxTf, minDl) per block),
  *    so the encoder runs without global stats of any kind — which is also
  *    what makes incremental append (new docs at ids N..) sound.
  *  - the hot-term sample is a 1-in-K DOC sample keyed by xxhash64(docId) —
  *    deterministic per ROW, so segmentation (and thus the index) is
  *    identical at any parallelism/partitioning, and only sampled docs are
  *    tokenized (the pass costs ~1/K of a full tokenize).
  *  - skew: sampled-hot terms (stopwords) are split into docId-range
  *    segments, so shuffle 3 never concentrates a stopword's postings into
  *    one task.
  *  - `html`/`text` never cross a shuffle after tokenization.
  */
object IndexBuilder {

  /** Stable term→directory-partition hash; MUST match the query side AND the
    * SQL expression `pmod(xxhash64(term), numBuckets)` (Spark's xxhash64
    * uses seed 42), so the build can bucket with a codegen'd expression while
    * the query prunes with this Scala function.
    */
  def bucketOf(term: String, numBuckets: Int): Int =
    math.floorMod(XXH64.hashUTF8String(UTF8String.fromString(term), 42L),
      numBuckets.toLong).toInt

  /** The codegen'd twin of [[bucketOf]]. */
  private[index] def bucketCol(term: org.apache.spark.sql.Column,
      numBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(term), lit(numBuckets.toLong)).cast("int")

  /** Assign dense docIds idOffset..idOffset+N-1 in global url sort order
    * (deterministic at any parallelism). Doc length is computed in the same
    * narrow pass as extraction, before anything shuffles. Returns the id'd
    * docs plus an unpersist handle for the cached sorted Dataset (must stay
    * cached while idDocs is in use, or the sampled range boundaries could
    * drift). idOffset > 0 is the incremental-append case (new batch ids
    * start at the existing index's high-water mark).
    */
  def assignDocIds(spark: SparkSession, docs: Dataset[WebDoc],
      partitions: Int = 0, idOffset: Long = 0L)
      : (Dataset[IdDoc], () => Unit, CorpusStats) = {
    import spark.implicits._
    val p = if (partitions > 0) partitions
            else math.max(1, spark.sparkContext.defaultParallelism)
    // doclen is computed AFTER the range shuffle so the (cheap) sampling and
    // shuffle-write passes don't re-tokenize; the snapshot below makes the
    // tokenize pass run exactly once.
    val extracted = docs.map { d =>
      ExtractedDoc(d.url, d.warc_ts, d.lang, Extractor.extract(d.html), 0L,
        Extractor.extractTitle(d.html), 0L)
    }
    // localCheckpoint (serialized UnsafeRows in the block store) rather than
    // .persist: Dataset.persist builds compressed COLUMNAR cache batches,
    // which measured as the single hottest cost of the whole build
    // (DictionaryEncoding over the text/term columns + memory-manager lock
    // contention). The checkpoint also freezes the sampled range boundaries,
    // so the two offset passes can never diverge.
    val sorted = extracted
      .repartitionByRange(p, $"url")
      .sortWithinPartitions($"url")
      .map(d => d.copy(doclen = Analysis.tokenize(d.text).length.toLong,
        titleLen = Analysis.tokenize(d.title).length.toLong))
      .localCheckpoint()
    // ONE pass yields both the per-partition counts (docId offsets) and the
    // corpus stats — each pass over the checkpoint deserializes every row,
    // so fused passes are a measured win on this bandwidth-bound box
    val perPid = sorted.toDF()
      .groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("c"), sum($"doclen").as("toks"),
        sum($"titleLen").as("ttoks"))
      .collect()
    val counts = perPid.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nDocs = perPid.map(_.getLong(1)).sum
    val totalTerms = perPid.map(_.getLong(2)).sum
    val titleTerms = perPid.map(_.getLong(3)).sum
    val stats = CorpusStats.of(nDocs, totalTerms, titleTerms,
      maxDocId = idOffset + nDocs - 1) // dense assignment: known in O(1)
    val offsets = new Array[Long](p + 1)
    offsets(0) = idOffset
    var i = 0
    while (i < p) { offsets(i + 1) = offsets(i) + counts.getOrElse(i, 0L); i += 1 }
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val idDocs = sorted.mapPartitions { it =>
      var id = bOffsets.value(TaskContext.getPartitionId())
      it.map { d =>
        val out = IdDoc(id, d.url, d.warc_ts, d.lang, d.text, d.doclen,
          d.title, d.titleLen)
        id += 1
        out
      }
    }
    (idDocs, () => { sorted.unpersist(); () }, stats) // unpersist frees blocks
  }

  /** Per-document tf rows with positions, produced NARROWLY: a document's
    * tokens all live in its own row, so the (docId, term) aggregation is
    * complete inside one pass over the partition — no groupBy, no shuffle.
    * (Round 1 ran tokenize-explode → corpus-scale hash-agg shuffle here;
    * eliminating it turned the build from 3 corpus-scale shuffles into 2.)
    * Emission order within a doc is arbitrary; everything downstream sorts
    * by (term, segment, docId), so the physical index is unaffected
    * (DeterminismSpec).
    */
  def tfRowsOf(idDocs: Dataset[IdDoc]): Dataset[PreTfRow] = {
    import idDocs.sparkSession.implicits._
    idDocs.mapPartitions { it =>
      it.flatMap { d =>
        // both indexed fields in one pass: text tokens under their bare
        // keys, title tokens under "title:"-qualified keys with the TITLE
        // doclen riding along (per-field BM25 length norms)
        def fieldRows(toks: Array[String], keyPrefix: String, dl: Long)
            : Iterator[PreTfRow] = {
          val m = new java.util.HashMap[String, PosAcc]()
          var p = 0
          while (p < toks.length) {
            val key = if (keyPrefix.isEmpty) toks(p) else keyPrefix + toks(p)
            var acc = m.get(key)
            if (acc == null) { acc = new PosAcc; m.put(key, acc) }
            acc.add(p)
            p += 1
          }
          val out = new scala.collection.mutable.ArrayBuffer[PreTfRow](m.size)
          val eit = m.entrySet().iterator()
          while (eit.hasNext) {
            val e = eit.next()
            val acc = e.getValue
            out += PreTfRow(e.getKey, d.docId, acc.count.toLong, dl, acc.bytes)
          }
          out.iterator
        }
        val text = fieldRows(Analysis.tokenize(d.text), "", d.doclen)
        if (d.titleLen == 0L) text
        else text ++ fieldRows(Analysis.tokenize(d.title), "title:", d.titleLen)
      }
    }
  }

  /** Full (re)build: materialize a fresh segment dir and publish a pointer
    * naming ONLY it — atomic at the pointer flip; a previous index at the
    * same path keeps serving until then and is GC'd after.
    */
  def build(spark: SparkSession, docs: Dataset[WebDoc], indexDir: String,
      conf: IndexConf = IndexConf()): BuildReport = {
    val seg = IndexLayout.nextSegDir(spark, indexDir)
    // intent record FIRST: a crash at any later point leaves resume enough
    // to finish THIS job instead of mis-inferring it from the old pointer
    IndexLayout.writeJobDescriptor(spark, s"$indexDir/$seg",
      JobDescriptor("build", 0L, Seq(seg), conf.numBuckets))
    val r = buildInternal(spark, docs, s"$indexDir/$seg", conf,
      onlyBuckets = None)
    IndexLayout.publish(spark, indexDir, Seq(seg))
    postBuildCleanup(spark, indexDir, conf.gcGraceMs)
    r
  }

  /** A fresh build invalidates tombstones aimed at the superseded docIds.
    * The tombstone wipe is IMMEDIATE, not grace-deferred: a rebuild reuses
    * ids from 0, so leaving the old entries live for the grace window would
    * mask arbitrary new docs. The (rare) cost is that a query over the
    * pre-rebuild snapshot racing this wipe can fail — the retired segment
    * dirs themselves still get the GC grace.
    */
  private def postBuildCleanup(spark: SparkSession, indexDir: String,
      gcGraceMs: Long): Unit = {
    IndexLayout.fsOf(spark, indexDir).delete(
      new org.apache.hadoop.fs.Path(IndexLayout.tombstonesDir(indexDir)), true)
    IndexLayout.gcUnreferenced(spark, indexDir, gcGraceMs)
  }

  /** Incremental append — the reference's repeated-batch operating model
    * (chunked `solrc.add` at /root/reference/src/indexdata.py:1778–1788).
    * New docs get ids past the existing high-water mark and land as a new
    * segment dir beside the old ones (segments are docId-disjoint per term,
    * so the query side needs no merge); the pointer flip makes the batch
    * visible atomically. Re-adding an existing url OVERWRITES it (same-id
    * overwrite at indexdata.py:1306): the superseded docIds are tombstoned
    * right after publish and physically dropped at the next compaction.
    */
  def append(spark: SparkSession, newDocs: Dataset[WebDoc], indexDir: String,
      conf: IndexConf = IndexConf()): BuildReport = {
    import spark.implicits._
    val published = IndexLayout.current(spark, indexDir).getOrElse(
      throw new IllegalStateException(
        s"append requires a published index at $indexDir"))
    // id offset from the single-row stats tables (r5): O(G) metadata reads
    // per batch instead of a max(docId) column scan over every generation —
    // the difference between O(1) and O(corpus) per streaming micro-batch.
    // Stats written before r5 lack the high-water mark → fall back to the
    // scan once (the next compaction/append rewrites stats with it).
    val statsMax = IndexLayout.combinedStats(spark, indexDir).maxDocId
    val liveMax =
      if (statsMax >= 0) statsMax
      else IndexLayout.readDocs(spark, indexDir, published)
        .agg(max($"docId")).head().getLong(0)
    // backstop: never reissue an id the tombstone view can mask. A partial
    // compaction whose merged subset was ENTIRELY dead drops those
    // generations' stats while folding their supersedes into the global
    // tombstones dir — the live high-water can then sit below a surviving
    // tombstoned id, and reusing it would hide the new doc silently. The
    // tombstone tables are docId-only and batch-sized; this is an O(deletes)
    // metadata read, not a corpus scan.
    val tombMax = IndexLayout.readTombstones(spark, indexDir, published)
      .map(_.agg(max($"docId")).head())
      .filterNot(_.isNullAt(0)).fold(-1L)(_.getLong(0))
    val offset = math.max(liveMax, tombMax) + 1L
    val seg = IndexLayout.nextSegDir(spark, indexDir)
    IndexLayout.writeJobDescriptor(spark, s"$indexDir/$seg",
      JobDescriptor("append", offset, published :+ seg, conf.numBuckets))
    val r = buildInternal(spark, newDocs, s"$indexDir/$seg", conf,
      onlyBuckets = None, idOffset = offset)
    // upsert-by-url: the superseded docIds are written INSIDE the new
    // segment ($seg/supersedes) BEFORE the pointer flip, so old and new
    // versions swap visibility atomically AT the flip — a crash on either
    // side of publish leaves no window where both (or neither) serve
    // (ADVICE r2; the round-2 global-tombstone write after publish did).
    writeSupersedes(spark, indexDir, published, seg)
    IndexLayout.publish(spark, indexDir, published :+ seg)
    maybeAutoCompact(spark, indexDir, conf)
    r
  }

  /** Merge policy (IndexConf.autoCompactGenerations): fold generations when
    * an append leaves more than G live. Sits on append — the single seam
    * both the CLI `--append` and the streaming sink's per-micro-batch ingest
    * flow through — so continuous ingest can never degrade query planning
    * without bound. Runs AFTER the batch's pointer flip: the batch is
    * already durable and visible; a crash inside the compaction leaves the
    * multi-generation index fully serving (compaction is itself atomic at
    * its own flip).
    *
    * Tiered selection (the Lucene merge-policy shape): when the largest
    * generation holds at least half the live docs, only the OTHER
    * generations are folded ([[Compaction.merge]]) — a streaming tail fold
    * costs O(tail), not O(index), so the G-th micro-batch never stalls on a
    * full rewrite. Once the tail rivals the base (or no generation
    * dominates), a FULL merge runs and also folds the tombstones — full
    * rewrites happen only every O(N) ingested docs, the classic logarithmic
    * amortization.
    */
  private def maybeAutoCompact(spark: SparkSession, indexDir: String,
      conf: IndexConf): Unit = {
    import spark.implicits._
    if (conf.autoCompactGenerations <= 0) return
    val gens = IndexLayout.current(spark, indexDir).getOrElse(return)
    if (gens.size <= conf.autoCompactGenerations) return
    val counts = Compaction.generationCounts(spark, indexDir, gens)
    val total = counts.map(_._2).sum
    val (big, bigN) = counts.maxBy(_._2)
    // Background-merge semantics: the append is already durable and visible
    // at its own pointer flip, so a compaction failure must never propagate
    // into the append's (or the streaming micro-batch's) result — a retried
    // micro-batch would re-upsert, grow a generation per retry, and re-hit
    // the same failure. Compaction is itself atomic at its flip; a failed
    // run leaves the multi-generation index fully serving and the next
    // over-threshold append simply tries again.
    try {
      if (bigN * 2 >= total && gens.size >= 3)
        Compaction.merge(spark, indexDir, conf, gens.filterNot(_ == big))
      else
        Compaction.run(spark, indexDir, conf)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[graft-append] auto-compaction failed (index still serving): $e")
    }
  }

  /** Derive and write $seg/supersedes: docIds of prior-generation versions
    * of urls re-added by `seg`. Depends only on on-disk tables, so resume
    * can re-run it idempotently (Overwrite; batch-sized, never collected).
    */
  private def writeSupersedes(spark: SparkSession, indexDir: String,
      prevSegs: Seq[String], seg: String): Unit = {
    import spark.implicits._
    val prevDocs = IndexLayout.readDocs(spark, indexDir, prevSegs)
    val newUrls = IndexLayout.readDocs(spark, indexDir, Seq(seg)).select($"url")
    prevDocs.join(newUrls, Seq("url"), "left_semi")
      .select($"docId")
      .write.mode(SaveMode.Overwrite)
      .parquet(IndexLayout.supersedesDir(s"$indexDir/$seg"))
  }

  /** Resume a partially-completed job: target the newest segment dir on
    * disk and REPLAY its job descriptor (kind, docId offset, publish set —
    * written before any data). Buckets with no `complete` manifest row are
    * rebuilt (segment-granular resume per the north_rule); re-derivation is
    * deterministic, so rebuilt buckets are identical to what the original
    * job would have produced. For an append, the upsert supersedes table is
    * (re)derived before the pointer flip. A crashed compaction is either
    * finished (all buckets complete → publish its merged set) or discarded
    * (its inputs are still fully published); a crashed full rebuild
    * publishes ONLY itself, at offset 0 — the round-2 inference published
    * old and new generations together (ADVICE r2).
    */
  def resume(spark: SparkSession, docs: Dataset[WebDoc], indexDir: String,
      conf: IndexConf = IndexConf()): BuildReport = {
    import spark.implicits._
    def nothingBuilt(buckets: Int) = BuildReport(0, 0, 0, 0, buckets, 0)
    IndexLayout.latestSegDir(spark, indexDir) match {
      case None => build(spark, docs, indexDir, conf) // nothing on disk yet
      case Some(sd) =>
        val segPath = s"$indexDir/$sd"
        val published = IndexLayout.current(spark, indexDir).getOrElse(Nil)
        def drop(path: String): Unit = IndexLayout.fsOf(spark, path)
          .delete(new org.apache.hadoop.fs.Path(path), true)
        val desc = IndexLayout.readJobDescriptor(spark, segPath) match {
          case Some(d) => d
          case None =>
            // descriptor is the FIRST write into a segment dir: an absent
            // or torn (empty/unparseable) job.txt means the crash landed
            // inside dir creation — the orphan carries no recoverable
            // intent. Drop it; if ANYTHING is published, leave it serving
            // (ADVICE r3: assuming "fresh full build" here made resume
            // itself replace a whole published index with just the batch
            // docs). Only an index with no published generation at all may
            // fall through to a fresh build.
            if (published.contains(sd)) return nothingBuilt(conf.numBuckets)
            drop(segPath)
            if (published.nonEmpty) return nothingBuilt(conf.numBuckets)
            return build(spark, docs, indexDir, conf)
        }
        val done: Set[Int] =
          try spark.read.parquet(IndexLayout.manifestDir(segPath))
            .filter($"status" === "complete")
            .select($"partitionId").as[Int].collect().toSet
          catch { case _: Exception => Set.empty }
        // REPLAY the recorded bucket count (like kind/idOffset/publish):
        // resume must finish the job with the buckets it was STARTED with —
        // rebuilding the missing buckets under a different count would
        // produce a segment whose termBucket layout disagrees with its
        // completed buckets (silent query misses). 0 = pre-field descriptor;
        // fall back to the caller's conf — but the orphan's own completed
        // buckets are a hard LOWER BOUND on the true count: finishing a
        // 32-bucket orphan under --buckets 16 would publish a mixed
        // mod-16/mod-32 layout that silently loses hits. Reject loudly,
        // same policy as MainCommon.resolveBuckets.
        val rconf =
          if (desc.buckets > 0) conf.copy(numBuckets = desc.buckets)
          else {
            require(done.isEmpty || conf.numBuckets > done.max,
              s"--buckets ${conf.numBuckets} contradicts orphan segment $sd: " +
              s"its manifest records completed termBucket ${done.max} " +
              s"(pre-field job.txt has no count; pass at least ${done.max + 1})")
            conf
          }
        val missing = (0 until rconf.numBuckets).filterNot(done).toSet

        desc.kind match {
          case "compaction" | "compaction-partial" =>
            if (published == desc.publish) {
              // flip already happened; reclaim the superseded dirs. For a
              // full merge, condemn EXACTLY the tombstone files the merge's
              // recorded snapshot folded (idempotent replay): deletes issued
              // between the crash and this resume are not in the snapshot
              // and keep masking their targets — the pre-r5 whole-dir wipe
              // here was a resurrection of exactly those deletes.
              if (desc.kind == "compaction")
                IndexLayout.condemnFoldedTombstones(spark, indexDir, sd)
              IndexLayout.gcUnreferenced(spark, indexDir, rconf.gcGraceMs)
              return nothingBuilt(rconf.numBuckets)
            }
            if (missing.isEmpty) {
              // fully materialized, crash was before the flip: finish it.
              // Only a FULL merge folds the global tombstones dir — and
              // only its recorded snapshot (see above); a partial (tiered)
              // merge's tombstones may target unmerged generations and must
              // survive the flip entirely.
              IndexLayout.publish(spark, indexDir, desc.publish)
              if (desc.kind == "compaction")
                IndexLayout.condemnFoldedTombstones(spark, indexDir, sd)
              IndexLayout.gcUnreferenced(spark, indexDir, rconf.gcGraceMs)
            } else {
              // half-written merge: its inputs are still fully published —
              // discard the orphan; the next Compaction run redoes it
              drop(segPath)
            }
            nothingBuilt(rconf.numBuckets)

          case kind => // "build" | "append"
            if (missing.isEmpty && published == desc.publish) {
              // flip already happened — but a crash in the publish→cleanup
              // window leaves tombstones aimed at the SUPERSEDED id space,
              // and a fresh build reuses ids from 0: skipping cleanup here
              // permanently masked arbitrary new docs (and the next full
              // compaction would physically drop them)
              if (kind == "build") postBuildCleanup(spark, indexDir, rconf.gcGraceMs)
              return nothingBuilt(rconf.numBuckets)
            }
            val report =
              if (missing.isEmpty) nothingBuilt(rconf.numBuckets)
              else {
                missing.foreach(b => drop(IndexLayout.bucketDir(segPath, b)))
                buildInternal(spark, docs, segPath, rconf, Some(missing),
                  desc.idOffset)
              }
            if (kind == "append") // idempotent; always redo before the flip
              writeSupersedes(spark, indexDir,
                desc.publish.filterNot(_ == sd), sd)
            if (published != desc.publish)
              IndexLayout.publish(spark, indexDir, desc.publish)
            if (kind == "build") postBuildCleanup(spark, indexDir, rconf.gcGraceMs)
            report
        }
    }
  }

  /** Hot-term sampling rate for a corpus size: exact counting up to 50k
    * docs, 1-in-200 row sampling above (df estimates only steer segment
    * sizing, never correctness).
    */
  private[graft] def sampleModFor(nDocs: Long): Int =
    if (nDocs <= 50000) 1 else 200

  /** Hot-term detection over a 1-in-sampleMod DOC sample (r4): only the
    * sampled docs are tokenized, so the pass costs ~1/sampleMod of a full
    * tokenize (the r2–r3 version sampled (term,docId) ROWS, which still
    * tokenized every document). Nothing corpus-scale is materialized (a
    * full tf checkpoint measured ~20 GB at 1.2M docs and thrashed the
    * block store). The doc-hash sample key is row-pure → the estimate,
    * and hence the physical index, is independent of partitioning. For a
    * truly hot term (df ≫ segmentMaxDocs) the 1-in-200 doc sample sees
    * ≥ df/200 occurrences — relative error ~sqrt(200/df) ≈ 5% at the cap.
    */
  private[graft] def hotTerms(idDocs: Dataset[IdDoc], nDocs: Long,
      conf: IndexConf): Map[String, Long] = {
    val sampleMod = sampleModFor(nDocs)
    val hotSource =
      if (sampleMod <= 1) idDocs
      else idDocs.filter(d => math.floorMod(
        XXH64.hashLong(d.docId, 42L), sampleMod.toLong) == 0L)
    hotTermSegLens(tfRowsOf(hotSource).toDF(), sampleMod, nDocs, conf)
  }

  /** Deterministic hot-term detection over tf rows of a DOC-sampled subset:
    * estimate df (count × sampleMod; exact when sampleMod == 1) and return
    * term → segment length for terms whose estimated df exceeds the segment
    * cap. The sample key is a pure function of docId, so the result (and
    * hence the physical index) is independent of partitioning. A term whose
    * true df sits near the cap may be estimated on either side — both
    * outcomes are safe (the cap only bounds encode-run memory; a ~25%-over
    * run or an extra split changes layout, never results).
    */
  private[index] def hotTermSegLens(sampledTfRows: DataFrame, sampleMod: Int,
      nDocs: Long, conf: IndexConf): Map[String, Long] = {
    val spark = sampledTfRows.sparkSession
    import spark.implicits._
    sampledTfRows
      .groupBy($"term").agg(count(lit(1)).as("c"))
      .filter($"c" * sampleMod > conf.segmentMaxDocs)
      .select($"term", $"c")
      .as[(String, Long)].collect()
      .map { case (t, c) => t -> segLen(c * sampleMod, nDocs, conf) }.toMap
  }

  /** Docs per segment for a hot term of document frequency `df` (sampled
    * in a build, exact in a compaction): ⌈df / segmentMaxDocs⌉ equal
    * docId ranges over the generation's `nDocs` ids.
    */
  private[index] def segLen(df: Long, nDocs: Long, conf: IndexConf): Long = {
    val nSeg = (df + conf.segmentMaxDocs - 1) / conf.segmentMaxDocs
    math.max(1L, (nDocs + nSeg - 1) / nSeg)
  }

  /** Target tf rows per encode task (~150 MB working set): the encode
    * shuffle's partition count scales with DATA VOLUME, not just cores —
    * sizing it by core count alone put gigabytes into each in-task sort at
    * larger corpora (measured: 1.2M docs at 8 partitions = 815 s of spill;
    * and at 4M rows/task, 32 concurrent sorts thrashed the unified pool —
    * local[32] ran SLOWER than local[8]). Matches the "size partitions so
    * they fit executor memory at the target SF" rule: per-task working set
    * must fit (heap / concurrent tasks) with headroom.
    */
  private val EncodeRowsPerTask = 1200000L

  /** Shared build tail: (term, docId, tf, doclen, positions) rows →
    * segmented, encoded postings written to the segment's postings dir.
    * Used by the builder and by Compaction. `onlyBuckets` (resume) encodes
    * just those buckets and adds them beside the completed ones. Note for
    * append: segment ids restart at 0 per batch, but segments of the same
    * term from different batches are docId-disjoint (new ids start past
    * the high-water mark), which is the only property the query-side
    * TermCursor needs.
    */
  private[index] def encodePostings(spark: SparkSession, tfRows: DataFrame,
      hot: Map[String, Long], totalTokens: Long, conf: IndexConf,
      outDir: String, onlyBuckets: Option[Set[Int]]): Unit = {
    import spark.implicits._
    val nb = conf.numBuckets
    // segment = docId / segLen for hot terms, 0 otherwise — a broadcast hash
    // join against the tiny hot-term table + integer division, fully inside
    // whole-stage codegen (the round-1 per-row Scala UDF measured as shuffle
    // 3's hottest input expression).
    val hotDf = hot.toSeq.toDF("term", "segLen")
    var rows = tfRows
      .join(broadcast(hotDf), Seq("term"), "left_outer")
      .withColumn("segment",
        when($"segLen".isNotNull, expr("CAST(docId DIV segLen AS INT)"))
          .otherwise(lit(0)))
      .drop("segLen")
    onlyBuckets.foreach { bs =>
      rows = rows.filter(bucketCol($"term", nb).isin(bs.toSeq: _*))
    }
    // tf rows <= token occurrences; partition for bounded in-task sorts
    val encodePartitions = math.max(
      math.max(1, spark.sparkContext.defaultParallelism),
      math.min(totalTokens / EncodeRowsPerTask + 1, 100000L).toInt)
    val segRows: Dataset[PostingSegment] = rows
      .select($"term", $"segment", $"docId", $"tf", $"doclen", $"positions")
      .repartition(encodePartitions, $"term", $"segment")
      .sortWithinPartitions($"term", $"segment", $"docId")
      .as[TfRow]
      .mapPartitions(it => new SegmentEncoder(it, nb))

    // land each bucket as one term-sorted file (partition pruning + parquet
    // min/max). df/cf are segment-local by design (IndexTables.scala), so no
    // global fill join exists — the round-1 termStats join + checkpoint are
    // gone entirely.
    segRows.toDF()
      .repartition(nb, $"termBucket")
      .sortWithinPartitions($"term", $"segment")
      .write.mode(if (onlyBuckets.isDefined) SaveMode.Append
        else SaveMode.Overwrite)
      .partitionBy("termBucket").parquet(IndexLayout.postingsDir(outDir))
  }

  /** A segment's side tables: docs (stored fields plus the per-field token
    * counts compaction re-derives stats from), the one-row stats, then the
    * docsmap. Build runs this beside its encode, compaction after it.
    *
    * The docsmap is the per-file url min/max of the docs just written (one
    * tiny file). [[graft.query.QueryEngine.realtimeGet]] consults it to plan
    * a point lookup over O(files containing url) instead of scheduling a
    * footer-check task per docs file — at 10^12 docs that is the difference
    * between one task and 10^5+ per /get. The docs files are url-sorted
    * within range partitions (build) or near-sorted (compaction preserves
    * source-file runs), so ranges are tight; the map is EXACT either way
    * because it is computed from the actual file contents — a
    * one-narrow-column (url) distributed pass over files still hot in the
    * page cache. Readers treat a missing docsmap as "scan every file", so
    * pre-docsmap segments keep serving.
    */
  private[index] def writeSideTables(spark: SparkSession, segPath: String,
      docs: DataFrame, stats: CorpusStats): Unit = {
    import spark.implicits._
    val docsDir = IndexLayout.docsDir(segPath)
    docs.write.mode(SaveMode.Overwrite).parquet(docsDir)
    Seq(stats).toDS()
      .write.mode(SaveMode.Overwrite).parquet(IndexLayout.statsDir(segPath))
    spark.read.parquet(docsDir)
      .select(input_file_name().as("f"), $"url")
      .groupBy($"f")
      .agg(min($"url").as("urlMin"), max($"url").as("urlMax"))
      .select(regexp_extract($"f", "[^/]+$", 0).as("file"),
        $"urlMin", $"urlMax")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(IndexLayout.docsMapDir(segPath))
  }

  /** Write a segment's manifest: per-bucket statistics of its postings.
    * The manifest is the commit barrier resume checks, so every caller
    * writes it LAST. With `onlyBuckets` (resume) only those buckets get
    * fresh rows and the existing manifest's other rows are kept. Returns
    * the rows written.
    *
    * Row counts and term ranges come from a COLUMN-PRUNED scan (term +
    * count only — never the binary posting columns), compressed byte sizes
    * from the filesystem's per-directory content summaries; re-reading the
    * full binary columns just to sum their lengths measured as a
    * multi-second serial tail on every build.
    */
  private[index] def writeManifest(spark: SparkSession, segPath: String,
      inputFiles: Seq[String], durationMs: Long,
      onlyBuckets: Option[Set[Int]]): Array[ManifestRow] = {
    import spark.implicits._
    val fs = IndexLayout.fsOf(spark, segPath)
    val bucketBytes: Map[Int, Long] = IndexLayout.bucketDirs(spark, segPath)
      .map { case (b, d) => b -> fs.getContentSummary(d).getLength }.toMap
    // map-literal lookup stays in codegen (the one UDF left on the build
    // path, VERDICT r3 #4); ~32 entries, folded into the plan as a literal
    val all = spark.read.parquet(IndexLayout.postingsDir(segPath))
      .select($"termBucket", $"term", $"count")
      .groupBy($"termBucket")
      .agg(min($"term").as("termRangeLo"), max($"term").as("termRangeHi"),
        count(lit(1)).as("segCount"), countDistinct($"term").as("termCount"),
        sum($"count").as("rowCount"))
      .select($"termBucket".cast("int").as("partitionId"),
        $"termRangeLo", $"termRangeHi", $"segCount", $"termCount", $"rowCount",
        coalesce(element_at(typedLit(bucketBytes), $"termBucket".cast("int")),
          lit(0L)).as("bytes"),
        typedLit(inputFiles).as("inputFiles"),
        lit(durationMs).as("durationMs"), lit("complete").as("status"))
    val fresh = onlyBuckets
      .fold(all)(bs => all.filter($"partitionId".isin(bs.toSeq: _*)))
      .as[ManifestRow].collect()
    val rows = onlyBuckets.fold(fresh) { bs =>
      val kept =
        try spark.read.parquet(IndexLayout.manifestDir(segPath))
          .as[ManifestRow].collect().filterNot(m => bs(m.partitionId))
        catch { case _: Exception => Array.empty[ManifestRow] }
      fresh ++ kept
    }
    rows.toSeq.toDS().coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(IndexLayout.manifestDir(segPath))
    rows
  }

  private def buildInternal(spark: SparkSession, docs: Dataset[WebDoc],
      outDir: String, conf: IndexConf,
      onlyBuckets: Option[Set[Int]], idOffset: Long = 0L): BuildReport = {
    import spark.implicits._
    val t0 = System.nanoTime()
    def phase(name: String): Unit =
      println(f"[graft-build] +${(System.nanoTime() - t0) / 1e9}%.1fs $name")
    val inputFiles = docs.inputFiles

    val (idDocs, unpersistSorted, stats) =
      assignDocIds(spark, docs, conf.buildPartitions, idOffset)
    val nDocs = stats.n
    phase(s"docIds assigned (n=$nDocs)")

    // docs table + stats write concurrently with the postings pipeline
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val sideWrites = Future {
      writeSideTables(spark, outDir, idDocs.toDF()
        .select($"docId", $"url", $"warc_ts", $"lang", $"doclen", $"titleLen"),
        stats)
    }

    val hot = hotTerms(idDocs, nDocs, conf)
    phase(s"hot terms sampled (${hot.size})")

    // tf rows: one row per (docId, term) with its position list, produced
    // narrowly per document (no shuffle — see tfRowsOf), consumed exactly
    // once by the encode shuffle
    val tfs = tfRowsOf(idDocs).toDF()

    encodePostings(spark, tfs, hot, stats.totalTerms, conf, outDir,
      onlyBuckets)
    phase("postings written")
    Await.result(sideWrites, Duration.Inf)
    phase("docs+stats written")

    val durationMs = (System.nanoTime() - t0) / 1000000L
    val manifestRows = writeManifest(spark, outDir, inputFiles.toSeq,
      durationMs, onlyBuckets)
    phase("manifest written")

    unpersistSorted()
    // exact distinct-term count for this generation: buckets partition the
    // term space, so the per-bucket distinct counts sum without overlap
    // (the pre-r5 report put segCount here, overstating terms whenever a
    // hot term was df-split into multiple segments)
    BuildReport(nDocs, manifestRows.map(_.termCount).sum,
      manifestRows.map(_.rowCount).sum, manifestRows.map(_.segCount).sum,
      conf.numBuckets, durationMs)
  }
}

/** Streaming run-encoder: consumes TfRows sorted by (term, segment, docId)
  * within the partition and emits one PostingSegment per (term, segment)
  * run with segment-local df/cf. Memory per run is bounded by the segment
  * size.
  */
private final class SegmentEncoder(it: Iterator[TfRow],
    numBuckets: Int) extends Iterator[PostingSegment] {

  private val buf = it.buffered
  // unboxed run accumulators, reused across every (term, segment) run in the
  // task (project rule 8: ArrayBuffer[Long] boxes into Object[] — 8× the
  // fresh pages on this fault-expensive VM, and this loop runs once per run
  // across the whole corpus)
  private val docIds = new LongBuf(256)
  private val tfs = new LongBuf(256)
  private val dls = new LongBuf(256)
  private val poss = new BytesBuf(256)
  override def hasNext: Boolean = buf.hasNext
  override def next(): PostingSegment = {
    val head = buf.head
    val term = head.term
    val segment = head.segment
    docIds.clear(); tfs.clear(); dls.clear(); poss.clear()
    while (buf.hasNext && buf.head.term == term && buf.head.segment == segment) {
      val r = buf.next()
      docIds.add(r.docId); tfs.add(r.tf); dls.add(r.doclen)
      poss.add(r.positions)
    }
    PostingCodec.encodePacked(term, IndexBuilder.bucketOf(term, numBuckets),
      segment, docIds.toArray, tfs.toArray, dls.toArray, poss.toArray)
  }
}
