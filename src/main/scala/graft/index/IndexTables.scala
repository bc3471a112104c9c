package graft.index

/** Physical index tables (FIXTURES.md §2; SURVEY.md §1.3). All standard Spark
  * types — the whole index is "just tables", which is what makes partition
  * pruning, compaction and resume plain relational jobs.
  */

/** One compressed posting segment: a docId-range slice of one term's posting
  * list. Non-skewed terms have exactly one segment (segment=0); terms with
  * df > segmentMaxDocs are split into docId-disjoint ranges (salted
  * segmentation, SURVEY.md §4.2 "skew handling"), so no single task ever
  * encodes or scores an unbounded stopword posting list.
  *
  * Compression: docIds are delta-gap + VByte over the whole segment with the
  * gap stream restarting implicitly at block boundaries (the base of block b
  * is blockLastDocId(b-1)), so a block is independently decodable given the
  * per-block byte offsets. tfs and dls (doc lengths) are plain VByte.
  * Storing dl inline (~1 byte/posting) makes scoring self-contained: no
  * query-time join against a 10^12-row doclen table. posVb carries, per
  * posting, its tf within-doc token positions (first absolute, then gaps,
  * VByte) — the Lucene-style positions stream phrase queries need; it is
  * only decoded when a phrase constraint asks for it.
  *
  * df/cf are NOT stored globally: a segment's document frequency is its
  * `count`, its collection frequency is `cf` (segment-local); the query
  * engine sums them across the term's segments — which stays correct when
  * segments of the same term come from different append batches.
  *
  * Block-max metadata per 128-doc block: last docId (skip pointer) plus the
  * block's max tf and min dl. tfNorm = tf/(tf+k1(1−b+b·dl/avgdl)) is
  * monotonically increasing in tf and decreasing in dl, so
  * tfNorm(blockMaxTf, blockMinDl, avgdl) upper-bounds every posting in the
  * block FOR ANY avgdl — which is what makes incremental append sound:
  * appending a batch changes the corpus avgdl, and bounds stored at build
  * time must not go stale. idf is likewise kept out of the stored metadata
  * (multiplied back at query time), so encoding needs neither corpus stats
  * nor a df join.
  */
final case class PostingSegment(
    termBucket: Int,
    term: String,
    segment: Int,
    cf: Long, // collection frequency of the term within THIS segment
    count: Int, // postings in THIS segment (= segment-local df)
    firstDocId: Long,
    lastDocId: Long,
    docIdsVb: Array[Byte],
    tfsVb: Array[Byte],
    dlsVb: Array[Byte],
    posVb: Array[Byte],
    blockLastDocId: Array[Long],
    blockMaxTf: Array[Long],
    blockMinDl: Array[Long],
    blockDocOff: Array[Int],
    blockTfOff: Array[Int],
    blockDlOff: Array[Int],
    blockPosOff: Array[Int])

/** Broadcast-sized corpus statistics (single row). BM25 length norms are
  * PER FIELD (Lucene likewise keeps norms per field): `avgdl`/`totalTerms`
  * cover the default `text` field, `titleAvgdl`/`titleTerms` the indexed
  * title field (reference: fielded search on `mmd_title` with df=text_en,
  * /root/reference/src/indexdata.py:1516–1523).
  *
  * `maxDocId` (r5) is the generation's docId high-water mark: appends read
  * it from the single-row stats tables instead of scanning `max(docId)`
  * over every generation's docs column — a streaming micro-batch pays O(G)
  * metadata reads, not an O(corpus) column scan, to pick its id offset.
  * -1 = empty/unknown (pre-r5 stats files lack the column; the append path
  * falls back to the scan).
  */
final case class CorpusStats(n: Long, avgdl: Double, totalTerms: Long,
    titleAvgdl: Double = 0.0, titleTerms: Long = 0L, maxDocId: Long = -1L)

object CorpusStats {
  /** Stats from token sums: each field's avgdl is its token total divided
    * by n (0.0 for no docs). Build, compaction and
    * [[IndexLayout.combinedStats]] all derive avgdl here.
    */
  def of(n: Long, totalTerms: Long, titleTerms: Long,
      maxDocId: Long): CorpusStats =
    CorpusStats(n, if (n == 0) 0.0 else totalTerms.toDouble / n, totalTerms,
      if (n == 0) 0.0 else titleTerms.toDouble / n, titleTerms, maxDocId)
}

/** Per-bucket build lineage + metrics — the checkpoint manifest
  * (north_rule: "resumable from checkpoint with per-partition lineage +
  * metrics"). A bucket is complete iff its manifest row says so; resume
  * rebuilds exactly the buckets without a complete row.
  */
final case class ManifestRow(
    partitionId: Int, // termBucket
    termRangeLo: String,
    termRangeHi: String,
    segCount: Long,
    termCount: Long, // distinct terms (exact: a term hashes to ONE bucket)
    rowCount: Long, // total postings (sum of segment counts)
    bytes: Long, // compressed posting bytes
    inputFiles: Array[String],
    durationMs: Long,
    status: String)

/** Segment-dir job record (see IndexLayout.writeJobDescriptor): kind is
  * "build" | "append" | "compaction"; `publish` is the exact segment set the
  * pointer must name when this job completes. `buckets` is the term-hash
  * bucket count the segment was (or is being) encoded with — the index's
  * self-description, so read paths never have to trust a CLI flag (a
  * mismatched bucket count prunes to the WRONG termBucket dirs and silently
  * returns misses). 0 = written before this field existed.
  */
final case class JobDescriptor(kind: String, idOffset: Long,
    publish: Seq[String], buckets: Int = 0)

object IndexConf {
  val BlockSize = 128
  /** Default GC retirement grace (15 min): retired segment dirs, superseded
    * pointer files, and condemned (folded) tombstone files stay on disk this
    * long after they stop being referenced, so a query planned over the
    * previous snapshot can finish — the local analog of Lucene's
    * reference-counted readers / an object store's delayed deletion. Must
    * exceed the longest in-flight query/scan; engines re-validate their
    * snapshot per query, so a view only outlives a flip by one query.
    */
  val GcGraceMsDefault: Long = 15L * 60 * 1000
}

/** @param numBuckets    term-hash directory partitions of the postings table
  *                      (query-time pruning unit; scale with vocabulary)
  * @param segmentMaxDocs df threshold above which a term is split into
  *                      docId-range segments (skew control)
  * @param autoCompactGenerations merge policy threshold G (0 disables): when
  *                      an append leaves MORE than G live generations
  *                      published, [[Compaction]] runs immediately after the
  *                      pointer flip — the Solr/Lucene background-merge
  *                      analog (SURVEY.md §4.2). Bounds query planning
  *                      (IndexLayout.readPostings unions one relation per
  *                      generation)
  *                      under continuous streaming ingest, which otherwise
  *                      creates a generation per micro-batch without bound.
  *                      The policy is TIERED (IndexBuilder.maybeAutoCompact):
  *                      when the largest generation holds at least half the
  *                      live docs, only the tail folds via
  *                      [[Compaction.merge]] — a PARTIAL merge that forwards
  *                      superseded ids and leaves the global tombstones dir
  *                      in place (entries may target unmerged generations);
  *                      only a full merge folds tombstones. Tail folds cost
  *                      O(tail); full rewrites amortize to every O(N) docs.
  *                      Failures never propagate into the append — the merge
  *                      is best-effort background work.
  * @param gcGraceMs     retirement grace for post-publish GC (see
  *                      [[IndexLayout.gcUnreferenced]]): how long retired
  *                      segment dirs, superseded pointers, and condemned
  *                      tombstone files stay on disk after they stop being
  *                      referenced. 0 = immediate deletion (tests).
  */
final case class IndexConf(
    numBuckets: Int = 32,
    segmentMaxDocs: Int = 1 << 16,
    buildPartitions: Int = 0, // 0 = spark default parallelism
    autoCompactGenerations: Int = 8,
    gcGraceMs: Long = IndexConf.GcGraceMsDefault) {
  require(numBuckets > 0 && segmentMaxDocs > 0 && autoCompactGenerations >= 0
    && gcGraceMs >= 0)
}
