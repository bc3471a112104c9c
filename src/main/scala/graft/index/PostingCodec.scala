package graft.index

/** Encode/decode of [[PostingSegment]] rows and the block-skipping cursors
  * the query engine iterates. This is the from-scratch replacement for the
  * posting machinery the reference delegates to Solr/Lucene (SURVEY.md §4.2).
  */
object PostingCodec {

  // Segments encode from parallel arrays sorted by docId (strictly
  // increasing); positions per posting are ascending within-doc token
  // offsets (length == tf). Encoding needs NO corpus stats: block-max
  // metadata is the avgdl-independent (maxTf, minDl) pair and df/cf are
  // segment-local (see IndexTables).

  /** VByte-pack one posting's ascending positions (first absolute, then
    * gaps) — the exact per-posting byte layout of the posVb stream, so
    * pre-packed positions can be CONCATENATED into a segment without any
    * decode/re-encode (the build shuffles positions in this packed form:
    * ~2× smaller rows than int arrays, which matters doubly in this sandbox
    * where fresh memory is kernel-expensive).
    */
  def packPositions(ps: Array[Int]): Array[Byte] = {
    val buf = new ByteBuf(ps.length + 2)
    var prev = 0
    var j = 0
    while (j < ps.length) {
      VByte.encodeTo(buf, (if (j == 0) ps(0) else ps(j) - prev).toLong)
      prev = ps(j)
      j += 1
    }
    buf.toArray
  }

  /** Slice a segment's posVb stream into per-posting byte runs WITHOUT
    * decoding values (walks VByte terminator bytes, tf values per posting) —
    * lets compaction re-shuffle positions in packed form.
    */
  def slicePositions(seg: PostingSegment): Array[Array[Byte]] = {
    val out = new Array[Array[Byte]](seg.count)
    if (seg.posVb.isEmpty) {
      java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]],
        Array.empty[Byte])
      return out
    }
    val tfs = VByte.decode(seg.tfsVb, seg.count)
    var p = 0
    var i = 0
    while (i < seg.count) {
      val start = p
      var k = tfs(i).toInt
      while (k > 0) { // skip k VByte values: a value ends at high-bit-0
        if ((seg.posVb(p) & 0x80) == 0) k -= 1
        p += 1
      }
      out(i) = java.util.Arrays.copyOfRange(seg.posVb, start, p)
      i += 1
    }
    out
  }

  /** Encode from per-posting PRE-PACKED position byte runs (see
    * [[packPositions]]); `posBytes(i)` may be empty for positions-free data.
    */
  def encodePacked(term: String, termBucket: Int, segment: Int,
      docIds: Array[Long], tfs: Array[Long], dls: Array[Long],
      posBytes: Array[Array[Byte]]): PostingSegment = {
    val count = docIds.length
    require(count > 0, s"empty segment for term '$term'")
    // all-or-nothing positions invariant: the decode side attributes posVb
    // runs to postings by tf-counted vbyte values, so a NON-empty stream
    // that is missing runs for some postings would silently hand one
    // posting's bytes to the next (wrong phrase matches). Positions-free
    // segments must be empty-for-ALL (decode treats empty posVb as such).
    locally {
      val nRuns = posBytes.count(p => p != null && p.nonEmpty)
      require(nRuns == 0 || nRuns == count,
        s"term '$term': $nRuns of $count postings carry positions — " +
          "mixed positioned/position-free input cannot be encoded")
    }
    val bs = IndexConf.BlockSize
    val nBlocks = (count + bs - 1) / bs

    val docBuf = new ByteBuf(count * 2)
    val tfBuf = new ByteBuf(count)
    val dlBuf = new ByteBuf(count * 2)
    val posBuf = new ByteBuf(count * 2)
    val blockLast = new Array[Long](nBlocks)
    val blockMaxTf = new Array[Long](nBlocks)
    val blockMinDl = new Array[Long](nBlocks)
    val docOff = new Array[Int](nBlocks)
    val tfOff = new Array[Int](nBlocks)
    val dlOff = new Array[Int](nBlocks)
    val posOff = new Array[Int](nBlocks)

    var prev = 0L
    var i = 0
    while (i < count) {
      val b = i / bs
      if (i % bs == 0) {
        docOff(b) = docBuf.length
        tfOff(b) = tfBuf.length
        dlOff(b) = dlBuf.length
        posOff(b) = posBuf.length
        blockMaxTf(b) = tfs(i)
        blockMinDl(b) = dls(i)
      }
      VByte.encodeTo(docBuf, if (i == 0) docIds(0) else docIds(i) - prev)
      prev = docIds(i)
      VByte.encodeTo(tfBuf, tfs(i))
      VByte.encodeTo(dlBuf, dls(i))
      if (i < posBytes.length && posBytes(i) != null)
        posBuf.addAll(posBytes(i))
      if (tfs(i) > blockMaxTf(b)) blockMaxTf(b) = tfs(i)
      if (dls(i) < blockMinDl(b)) blockMinDl(b) = dls(i)
      blockLast(b) = docIds(i)
      i += 1
    }
    PostingSegment(termBucket, term, segment, tfs.sum, count,
      docIds(0), docIds(count - 1),
      docBuf.toArray, tfBuf.toArray, dlBuf.toArray, posBuf.toArray,
      blockLast, blockMaxTf, blockMinDl, docOff, tfOff, dlOff, posOff)
  }

  /** Encode from plain per-posting position Int arrays (tests, oracle-side
    * segment builders).
    */
  def encode(term: String, termBucket: Int, segment: Int,
      docIds: Array[Long], tfs: Array[Long], dls: Array[Long],
      positions: Array[Array[Int]]): PostingSegment =
    encodePacked(term, termBucket, segment, docIds, tfs, dls,
      positions.map(packPositions))

  /** Positions-free convenience overload (tests, compaction of legacy data). */
  def encode(term: String, termBucket: Int, segment: Int,
      docIds: Array[Long], tfs: Array[Long],
      dls: Array[Long]): PostingSegment =
    encodePacked(term, termBucket, segment, docIds, tfs, dls,
      Array.empty[Array[Byte]])

  /** Cut the sub-segment of blocks overlapping the docId window [lo, hi) —
    * WITHOUT decoding anything but the first docId gap. The distributed
    * windowed WAND plan used to replicate a segment's FULL byte payload into
    * every window its docId span touches (VERDICT r3 "what's wrong" #1: a
    * cold term's single segment spans the whole docId space → span/rangeLen
    * copies through the shuffle); this emits only the bytes of overlapping
    * blocks, so shuffled volume scales with blocks, not span × windows.
    *
    * The slice is a self-contained [[PostingSegment]]: the doc stream's
    * first value is rebased to absolute (the original block's gap base is
    * its predecessor's last docId, which the slice drops), every other byte
    * is copied verbatim, and block metadata/offsets are shifted. Decoding a
    * slice yields exactly the original postings of its blocks — a cursor
    * over it is indistinguishable from one over the original restricted to
    * those blocks (CodecSpec property).
    *
    * Returns None when no block overlaps; the ORIGINAL segment when every
    * block does (zero-copy fast path — the common case for hot df-split
    * segments whose span is a single window).
    *
    * `cf` is carried over from the source segment (slice-local cf would
    * need a tf decode; nothing on the query path reads it).
    */
  def sliceForWindow(seg: PostingSegment, lo: Long,
      hi: Long): Option[PostingSegment] = {
    if (seg.firstDocId >= hi || seg.lastDocId < lo) return None
    val bs = IndexConf.BlockSize
    val nBlocks = seg.blockLastDocId.length
    // first block whose last docId reaches the window
    var loB = 0
    while (loB < nBlocks && seg.blockLastDocId(loB) < lo) loB += 1
    if (loB >= nBlocks) return None
    // blockFirst(b) = blockLastDocId(b-1)+1 is a LOWER bound on block b's
    // first docId — using it can only include an extra boundary block,
    // never skip an overlapping one
    def blockFirst(b: Int): Long =
      if (b == 0) seg.firstDocId else seg.blockLastDocId(b - 1) + 1
    var hiB = loB
    while (hiB < nBlocks && blockFirst(hiB) < hi) hiB += 1
    if (hiB == loB) return None
    if (loB == 0 && hiB == nBlocks) return Some(seg)

    val count = math.min(seg.count, hiB * bs) - loB * bs
    // rebase the doc stream's first value: decode ONE gap, re-emit absolute
    var p = seg.blockDocOff(loB)
    var gap = 0L; var shift = 0
    var b0 = seg.docIdsVb(p); p += 1
    while ((b0 & 0x80) != 0) {
      gap |= (b0 & 0x7FL) << shift; shift += 7; b0 = seg.docIdsVb(p); p += 1
    }
    gap |= (b0 & 0x7FL) << shift
    val firstAbs = if (loB == 0) gap else seg.blockLastDocId(loB - 1) + gap
    val gapLen = p - seg.blockDocOff(loB)
    val docEnd =
      if (hiB < nBlocks) seg.blockDocOff(hiB) else seg.docIdsVb.length
    val docBuf = new ByteBuf(docEnd - seg.blockDocOff(loB) + 9)
    VByte.encodeTo(docBuf, firstAbs)
    val absLen = docBuf.length
    docBuf.addAll(java.util.Arrays.copyOfRange(seg.docIdsVb, p, docEnd))
    val docShift = absLen - gapLen - seg.blockDocOff(loB)

    def cut(bytes: Array[Byte], off: Array[Int]): Array[Byte] =
      java.util.Arrays.copyOfRange(bytes, off(loB),
        if (hiB < nBlocks) off(hiB) else bytes.length)
    def shiftOff(off: Array[Int]): Array[Int] = {
      val out = new Array[Int](hiB - loB)
      var i = 0
      while (i < out.length) { out(i) = off(loB + i) - off(loB); i += 1 }
      out
    }
    val docOff = {
      val out = new Array[Int](hiB - loB)
      out(0) = 0
      var i = 1
      while (i < out.length) {
        out(i) = seg.blockDocOff(loB + i) + docShift
        i += 1
      }
      out
    }
    Some(PostingSegment(seg.termBucket, seg.term, seg.segment, seg.cf, count,
      firstAbs, seg.blockLastDocId(hiB - 1),
      docBuf.toArray,
      cut(seg.tfsVb, seg.blockTfOff),
      cut(seg.dlsVb, seg.blockDlOff),
      cut(seg.posVb, seg.blockPosOff), // empty posVb: offsets are all 0
      java.util.Arrays.copyOfRange(seg.blockLastDocId, loB, hiB),
      java.util.Arrays.copyOfRange(seg.blockMaxTf, loB, hiB),
      java.util.Arrays.copyOfRange(seg.blockMinDl, loB, hiB),
      docOff,
      shiftOff(seg.blockTfOff),
      shiftOff(seg.blockDlOff),
      shiftOff(seg.blockPosOff)))
  }

  /** Full sequential decode — used by the exhaustive scorer and tests. */
  def decodeAll(seg: PostingSegment): (Array[Long], Array[Long], Array[Long]) =
    (VByte.decodeDeltas(seg.docIdsVb, seg.count),
     VByte.decode(seg.tfsVb, seg.count),
     VByte.decode(seg.dlsVb, seg.count))

  /** Decode every posting's positions (empty segment-level stream → all
    * postings get empty arrays). Test/exhaustive-path helper; the WAND path
    * decodes lazily per block via [[SegCursor.curPositions]].
    */
  def decodePositions(seg: PostingSegment): Array[Array[Int]] = {
    val out = new Array[Array[Int]](seg.count)
    if (seg.posVb.isEmpty) {
      java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], Array.empty[Int])
      return out
    }
    val tfs = VByte.decode(seg.tfsVb, seg.count)
    var p = 0
    var i = 0
    while (i < seg.count) {
      val k = tfs(i).toInt
      val ps = new Array[Int](k)
      var acc = 0
      var j = 0
      while (j < k) {
        var v = 0L; var shift = 0
        var b = seg.posVb(p); p += 1
        while ((b & 0x80) != 0) {
          v |= (b & 0x7FL) << shift; shift += 7; b = seg.posVb(p); p += 1
        }
        v |= (b & 0x7FL) << shift
        acc = if (j == 0) v.toInt else acc + v.toInt
        ps(j) = acc
        j += 1
      }
      out(i) = ps
      i += 1
    }
    out
  }
}

/** Lazy block-decoding cursor over one segment. Skipping to a target docId
  * walks blockLastDocId WITHOUT decoding skipped blocks (the VByte gap stream
  * restarts at each block with base = previous block's last docId). The
  * positions stream is decoded only if [[curPositions]] is called within the
  * current block (phrase verification of a surviving candidate).
  */
final class SegCursor(val seg: PostingSegment, idfv: Double, avgdl: Double) {
  private val bs = IndexConf.BlockSize
  private val nBlocks = seg.blockLastDocId.length
  private var blockIdx = -1
  private var blockDocs: Array[Long] = null
  private var blockTfs: Array[Long] = null
  private var blockDls: Array[Long] = null
  private var blockPos: Array[Array[Int]] = null // lazily decoded
  private var pos = 0
  private var blockLen = 0
  var exhausted = false

  def curDoc: Long = blockDocs(pos)
  def curScore: Double =
    BM25.score(blockTfs(pos), blockDls(pos), avgdl, idfv)

  /** Within-doc token positions of the current posting (ascending). Empty if
    * the segment has no positions stream.
    */
  def curPositions: Array[Int] = {
    if (blockPos == null) decodeBlockPositions()
    blockPos(pos)
  }

  /** Upper bound on the BM25 contribution within the current block
    * (idf x avgdl-independent (maxTf, minDl) bound).
    */
  def currentBlockMax: Double =
    idfv * BM25.tfNorm(seg.blockMaxTf(blockIdx), seg.blockMinDl(blockIdx), avgdl)
  def currentBlockLast: Long = seg.blockLastDocId(blockIdx)

  private def decodeBlock(b: Int): Unit = {
    blockIdx = b
    blockLen = math.min(bs, seg.count - b * bs)
    val base = if (b == 0) 0L else seg.blockLastDocId(b - 1)
    // decode blockLen gap values starting at the recorded byte offset
    val raw = decodeFrom(seg.docIdsVb, seg.blockDocOff(b), blockLen)
    var i = 0
    var acc = base
    while (i < blockLen) {
      acc += raw(i) // block 0's first value has base 0, i.e. absolute
      raw(i) = acc
      i += 1
    }
    blockDocs = raw
    blockTfs = decodeFrom(seg.tfsVb, seg.blockTfOff(b), blockLen)
    blockDls = decodeFrom(seg.dlsVb, seg.blockDlOff(b), blockLen)
    blockPos = null
    pos = 0
  }

  private def decodeBlockPositions(): Unit = {
    val out = new Array[Array[Int]](blockLen)
    if (seg.posVb.isEmpty) {
      java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], Array.empty[Int])
      blockPos = out
      return
    }
    var p = seg.blockPosOff(blockIdx)
    var i = 0
    while (i < blockLen) {
      val k = blockTfs(i).toInt
      val ps = new Array[Int](k)
      var acc = 0
      var j = 0
      while (j < k) {
        var v = 0L; var shift = 0
        var b = seg.posVb(p); p += 1
        while ((b & 0x80) != 0) {
          v |= (b & 0x7FL) << shift; shift += 7; b = seg.posVb(p); p += 1
        }
        v |= (b & 0x7FL) << shift
        acc = if (j == 0) v.toInt else acc + v.toInt
        ps(j) = acc
        j += 1
      }
      out(i) = ps
      i += 1
    }
    blockPos = out
  }

  private def decodeFrom(bytes: Array[Byte], off: Int, k: Int): Array[Long] = {
    val out = new Array[Long](k)
    var p = off
    var i = 0
    while (i < k) {
      var v = 0L; var shift = 0
      var b = bytes(p); p += 1
      while ((b & 0x80) != 0) { v |= (b & 0x7FL) << shift; shift += 7; b = bytes(p); p += 1 }
      out(i) = v | ((b & 0x7FL) << shift)
      i += 1
    }
    out
  }

  /** Position at the first posting with docId >= target. */
  def advanceTo(target: Long): Unit = {
    if (exhausted) return
    if (blockIdx >= 0 && blockDocs != null && pos < blockLen && curDoc >= target) return
    var b = math.max(blockIdx, 0)
    while (b < nBlocks && seg.blockLastDocId(b) < target) b += 1
    if (b >= nBlocks) { exhausted = true; return }
    if (b != blockIdx || blockDocs == null) decodeBlock(b)
    // binary search within the block for first >= target
    var lo = pos; var hi = blockLen - 1
    if (blockDocs(lo) < target) {
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (blockDocs(mid) < target) lo = mid + 1 else hi = mid
      }
    }
    pos = lo
  }

  def next(): Unit = {
    if (exhausted) return
    if (blockIdx < 0) { decodeBlock(0); return }
    pos += 1
    if (pos >= blockLen) {
      if (blockIdx + 1 >= nBlocks) exhausted = true
      else decodeBlock(blockIdx + 1)
    }
  }

  def init(): Unit = if (blockIdx < 0 && nBlocks > 0) decodeBlock(0)
}

/** Cursor over ALL segments of one term (docId-disjoint, ordered by
  * firstDocId) restricted to a docId window [lo, hi). Presents the classic
  * docID-ordered posting iterator to the WAND loop.
  */
final class TermCursor(val term: String, segments: Seq[PostingSegment],
    val idfv: Double, avgdl: Double, lo: Long, hi: Long) {

  private val segs = segments.sortBy(_.firstDocId).toArray
  private var segIdx = 0
  private var cur: SegCursor = null
  var exhausted: Boolean = segs.isEmpty

  /** Term-level score upper bound within this window. */
  val upperBound: Double = {
    var m = 0.0
    segs.foreach { s =>
      if (s.lastDocId >= lo && s.firstDocId < hi) {
        var b = 0
        while (b < s.blockMaxTf.length) {
          // only blocks overlapping the window matter
          val blockFirst = if (b == 0) s.firstDocId else s.blockLastDocId(b - 1) + 1
          if (s.blockLastDocId(b) >= lo && blockFirst < hi) {
            val bound = BM25.tfNorm(s.blockMaxTf(b), s.blockMinDl(b), avgdl)
            if (bound > m) m = bound
          }
          b += 1
        }
      }
    }
    idfv * m
  }

  private def openSeg(i: Int): Unit = {
    segIdx = i
    cur = new SegCursor(segs(i), idfv, avgdl)
    cur.init()
  }

  // position at first docId >= lo
  advanceTo(lo)

  def curDoc: Long = cur.curDoc
  def curScore: Double = cur.curScore
  def curPositions: Array[Int] = cur.curPositions
  def currentBlockMax: Double =
    if (exhausted) 0.0 else cur.currentBlockMax
  def currentBlockLast: Long = if (exhausted) Long.MaxValue else cur.currentBlockLast

  def advanceTo(target: Long): Unit = {
    if (exhausted) return
    var t = math.max(target, lo)
    // find segment containing/after t
    while (segIdx < segs.length && segs(segIdx).lastDocId < t) { segIdx += 1; cur = null }
    if (segIdx >= segs.length) { exhausted = true; return }
    if (cur == null) openSeg(segIdx)
    cur.advanceTo(t)
    while (cur.exhausted) {
      segIdx += 1
      if (segIdx >= segs.length) { exhausted = true; return }
      openSeg(segIdx)
      cur.advanceTo(t)
    }
    if (cur.curDoc >= hi) exhausted = true
  }

  def next(): Unit = {
    if (exhausted) return
    cur.next()
    if (cur.exhausted) {
      segIdx += 1
      if (segIdx >= segs.length) { exhausted = true; return }
      openSeg(segIdx)
    }
    if (!exhausted && cur.curDoc >= hi) exhausted = true
  }
}
