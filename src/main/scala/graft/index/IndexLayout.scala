package graft.index

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generation layout of an index directory — the atomic-publish machinery
  * (the reference's visibility barrier is `solrc.commit`,
  * /root/reference/src/indexdata.py:1795–1798; Lucene's is the segments_N
  * file, which this mirrors):
  *
  * {{{
  * indexDir/
  *   current-000001.txt     # pointer: live segment dirs, one per line
  *   current-000002.txt     # a NEWER pointer supersedes older ones
  *   seg-000000/{postings,docs,stats,manifest}
  *   seg-000001/...         # appended batch
  *   tombstones/            # deletes, outside generations
  * }}}
  *
  * Readers resolve the HIGHEST-numbered pointer file; writers publish by
  * creating the next-numbered pointer (create-new, never overwrite) after
  * all data is on disk. A crash at any earlier point leaves the previous
  * pointer — and therefore the previous index — fully intact: build, append
  * and compaction are all atomic at the pointer flip. Superseded segment
  * dirs are garbage, GC'd best-effort after publish.
  */
object IndexLayout {

  def segDirName(k: Int): String = f"seg-$k%06d"

  private[index] def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------ file names
  //
  // The only place that spells the names inside an index dir. `seg` is a
  // segment dir PATH (`$indexDir/seg-NNNNNN`).

  private val BucketPrefix = "termBucket="

  def postingsDir(seg: String): String = s"$seg/postings"
  /** One term-hash bucket's partition dir under [[postingsDir]]. */
  def bucketDir(seg: String, b: Int): String =
    s"${postingsDir(seg)}/$BucketPrefix$b"
  def docsDir(seg: String): String = s"$seg/docs"
  def docsMapDir(seg: String): String = s"$seg/docsmap"
  def statsDir(seg: String): String = s"$seg/stats"
  def manifestDir(seg: String): String = s"$seg/manifest"
  def supersedesDir(seg: String): String = s"$seg/supersedes"
  private def jobFile(seg: String): String = s"$seg/job.txt"
  private def foldedTombstonesFile(seg: String): String =
    s"$seg/folded-tombstones.txt"
  /** The global delete-by-id dir, beside the segment dirs. */
  def tombstonesDir(indexDir: String): String = s"$indexDir/tombstones"

  private val PointerRe = "current-(\\d{6})\\.txt".r
  private val SegRe = "seg-(\\d{6})".r

  private def pointerK(name: String): Option[Int] = name match {
    case PointerRe(k) => Some(k.toInt)
    case _            => None
  }

  private[graft] def readLines(fs: FileSystem, p: Path): Seq[String] = {
    def read(f: FileSystem): String = {
      val in = f.open(p)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val txt =
      try read(fs)
      catch {
        // Hadoop's local ChecksumFileSystem renames a file and its .crc
        // sidecar in TWO steps, so publishers racing onto the same pointer
        // name can pair one writer's (atomically-renamed, complete) bytes
        // with the other's stale sidecar — the CONTENT is exactly one
        // writer's set; only the crc lies. Read past it on the raw fs
        // instead of discarding a healthy newest pointer (HDFS/S3 have no
        // sidecar, so this branch is local-fs-only by construction).
        case e: org.apache.hadoop.fs.ChecksumException => fs match {
          case c: org.apache.hadoop.fs.ChecksumFileSystem =>
            read(c.getRawFileSystem)
          case _ => throw e
        }
      }
    txt.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Live segment dirs named by the newest pointer (build order preserved);
    * None if the index has never been published.
    */
  def current(spark: SparkSession, indexDir: String): Option[Seq[String]] = {
    val fs = fsOf(spark, indexDir)
    val base = new Path(indexDir)
    if (!fs.exists(base)) return None
    val ptrs = fs.listStatus(base).toSeq
      .flatMap(st => pointerK(st.getPath.getName).map(_ -> st.getPath))
    // newest first; a legitimate pointer always names >= 1 segdir, so an
    // empty read (a pre-rename-era mid-create pointer, or a torn filesystem)
    // falls back to the next-newest instead of resolving an empty index —
    // as does an older pointer a concurrent GC reaped between list and open
    // (the newest pointer is never reaped)
    ptrs.sortBy(-_._1).iterator.map { case (_, p) =>
      try readLines(fs, p) catch { case _: java.io.IOException => Seq.empty }
    }.find(_.nonEmpty)
  }

  /** Publish a new pointer naming `segdirs` as the live set. Atomic: the
    * content is written to a `.tmp` name the pointer regex ignores, then
    * renamed into place — a reader either resolves the previous pointer or
    * the complete new one, never a partial.
    */
  def publish(spark: SparkSession, indexDir: String,
      segdirs: Seq[String]): Unit = {
    val fs = fsOf(spark, indexDir)
    val base = new Path(indexDir)
    if (!fs.exists(base)) fs.mkdirs(base)
    val nextK = fs.listStatus(base).toSeq
      .flatMap(st => pointerK(st.getPath.getName)).foldLeft(0)(math.max) + 1
    val p = new Path(indexDir, f"current-$nextK%06d.txt")
    // write-to-temp + rename: the .tmp name never matches PointerRe, so a
    // concurrent reader can NEVER observe a zero-length or half-written
    // pointer (a racing realtimeGet once resolved an empty segdir set from
    // a mid-create pointer and crashed planning over zero paths). rename
    // also keeps the never-clobber guarantee: it fails if the target exists.
    // The tmp name is per-writer unique: two publishers racing to the same
    // nextK must NOT share a tmp (create(_, true) would truncate the other
    // writer's in-flight bytes and the surviving rename could install a
    // torn pointer); with unique tmps exactly one rename wins and the
    // loser's file stays a .tmp no reader ever matches.
    val tmp = new Path(indexDir,
      f"current-$nextK%06d.txt.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(segdirs.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"pointer flip lost the race: $p exists")
    }
  }

  /** Next unused segment dir name (scans existing seg-*, published or not —
    * an unpublished orphan from a crashed job is never reused).
    */
  def nextSegDir(spark: SparkSession, indexDir: String): String = {
    val fs = fsOf(spark, indexDir)
    val base = new Path(indexDir)
    val k = if (!fs.exists(base)) 0
    else fs.listStatus(base).toSeq.flatMap(st => st.getPath.getName match {
      case SegRe(n) => Some(n.toInt + 1)
      case _        => None
    }).foldLeft(0)(math.max)
    segDirName(k)
  }

  /** Newest segment dir present on disk, published or not (resume target). */
  def latestSegDir(spark: SparkSession, indexDir: String): Option[String] = {
    val fs = fsOf(spark, indexDir)
    val base = new Path(indexDir)
    if (!fs.exists(base)) return None
    val ks = fs.listStatus(base).toSeq.flatMap(st => st.getPath.getName match {
      case SegRe(n) => Some(n.toInt)
      case _        => None
    })
    if (ks.isEmpty) None else Some(segDirName(ks.max))
  }

  /** Post-publish GC with a retirement grace period — the local-filesystem
    * analog of Lucene's reference-counted readers / an object store's
    * delayed deletion. Nothing a reader could still be scanning is deleted
    * until it has been unreferenced for at least `graceMs`:
    *
    *  - pointer files: the newest is always kept; a superseded pointer is
    *    kept until its SUCCESSOR is `graceMs` old (i.e. until it has been
    *    retired for grace). Reaping them matters at scale: continuous
    *    ingest otherwise leaks one pointer file per publish, and every
    *    `current()` resolution lists the directory.
    *  - segment dirs: kept while any retained pointer names them; an
    *    unreferenced dir is additionally kept until its own mtime is
    *    `graceMs` old (a concurrent writer's in-flight dir is named by no
    *    pointer yet).
    *  - condemned tombstone files: a full merge records the exact files it
    *    folded (see [[condemnFoldedTombstones]]); they are reaped once the
    *    condemnation marker is `graceMs` old, and the `tombstones/` dir
    *    itself only when no data files or markers remain.
    *
    * A query planned over a pointer superseded more than `graceMs` ago is
    * the only reader this can break — the engine re-validates its snapshot
    * per query, so `graceMs` only needs to exceed the longest single
    * query/scan. `graceMs = 0` reproduces immediate deletion. Best-effort:
    * a failure leaves only dead bytes, never a broken index.
    */
  def gcUnreferenced(spark: SparkSession, indexDir: String,
      graceMs: Long = IndexConf.GcGraceMsDefault): Unit = {
    val fs = fsOf(spark, indexDir)
    val base = new Path(indexDir)
    if (!fs.exists(base)) return
    val now = System.currentTimeMillis()
    val sts = fs.listStatus(base).toSeq
    val ptrs = sts
      .flatMap(st => pointerK(st.getPath.getName).map(_ -> st))
      .sortBy(_._1)
    if (ptrs.isEmpty) return // unpublished dir: nothing is provably garbage
    // a pointer is retired the moment its successor appears
    val retained = ptrs.zipWithIndex.collect {
      case ((_, st), i) if i == ptrs.size - 1 ||
          now - ptrs(i + 1)._2.getModificationTime < graceMs => st
    }
    val protectedSegs: Set[String] =
      try retained.flatMap(st => readLines(fs, st.getPath)).toSet
      catch { case _: java.io.IOException => return } // racing GC won; defer
    val retainedNames = retained.map(_.getPath.getName).toSet
    // crash-orphaned pointer temps (unique per writer, see publish) are
    // invisible to readers; age-guard them so a racing writer's in-flight
    // tmp survives
    val tmpGraceMs = math.max(graceMs, 60L * 60 * 1000)
    sts.foreach { st =>
      val name = st.getPath.getName
      val reap =
        if (SegRe.pattern.matcher(name).matches())
          !protectedSegs.contains(name) &&
            now - st.getModificationTime >= graceMs &&
            segQuiesced(fs, st, now, graceMs)
        else if (pointerK(name).isDefined) !retainedNames.contains(name)
        else name.startsWith("current-") && name.endsWith(".tmp") &&
          now - st.getModificationTime >= tmpGraceMs
      if (reap)
        try fs.delete(st.getPath, true)
        catch { case _: Exception => }
    }
    reapCondemnedTombstones(fs, indexDir, now, graceMs)
  }

  /** Whether an UNREFERENCED segment dir is provably not being written.
    * A completed segment (manifest present — the commit barrier's last
    * write) is retired data; its pointer-grace has expired, reap it. A
    * manifest-less dir is either a crash orphan or a concurrent writer's
    * in-flight segment — indistinguishable without a liveness signal, and
    * the dir's own mtime is NOT one (it only advances when a DIRECT child
    * is created; a long encode creates its direct children up front). So
    * the liveness signal is a bounded-depth walk: an active parquet write
    * churns file and task-dir mtimes deep in `postings/_temporary`, while
    * a genuine orphan goes quiet everywhere the instant its job dies —
    * quiet for graceMs at every depth → reap (same timing orphans always
    * had; graceMs = 0 keeps the tests' immediate-deletion semantics).
    */
  private def segQuiesced(fs: FileSystem, st: org.apache.hadoop.fs.FileStatus,
      now: Long, graceMs: Long): Boolean = {
    if (graceMs <= 0) return true
    val hasManifest =
      try fs.exists(new Path(manifestDir(st.getPath.toString)))
      catch { case _: Exception => false }
    if (hasManifest) return true
    def maxMtime(p: Path, depth: Int): Long = {
      val kids = try fs.listStatus(p) catch { case _: Exception => return now }
      kids.foldLeft(0L) { (m, k) =>
        val own = math.max(m, k.getModificationTime)
        if (k.isDirectory && depth < 6) math.max(own, maxMtime(k.getPath, depth + 1))
        else own
      }
    }
    now - math.max(st.getModificationTime, maxMtime(st.getPath, 0)) >= graceMs
  }

  /** Record that a completed FULL merge folded exactly the tombstone files
    * listed in `$seg/folded-tombstones.txt` (snapshotted by the merge before
    * it built its tombstone view): writes `tombstones/.condemned-<seg>`
    * (a dot-name every parquet read ignores) carrying the publish timestamp
    * and the file names. The files stay readable for in-flight stale
    * snapshots and are reaped by [[gcUnreferenced]] after the grace period.
    *
    * File-granular on purpose: a delete issued WHILE the merge ran — or
    * between a compaction crash and its resume — is not in the list and
    * keeps masking its target (which survived into the merged segment with
    * its docId). The old whole-dir delete silently lost such deletes
    * (resurrection). Idempotent per segment, so resume can replay it.
    */
  def condemnFoldedTombstones(spark: SparkSession, indexDir: String,
      seg: String): Unit = {
    val fs = fsOf(spark, indexDir)
    val folded = new Path(foldedTombstonesFile(s"$indexDir/$seg"))
    if (!fs.exists(folded)) return // merge saw no global tombstones
    val marker = new Path(tombstonesDir(indexDir), s".condemned-$seg")
    if (fs.exists(marker)) return
    val names = readLines(fs, folded)
    if (names.isEmpty) return
    try {
      val out = fs.create(marker, false)
      try out.write((s"ts=${System.currentTimeMillis()}\n" +
        names.mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: java.io.IOException => } // lost a replay race: done
  }

  private def reapCondemnedTombstones(fs: FileSystem, indexDir: String,
      now: Long, graceMs: Long): Unit = {
    val tomb = new Path(tombstonesDir(indexDir))
    if (!fs.exists(tomb)) return
    fs.listStatus(tomb)
      .filter(_.getPath.getName.startsWith(".condemned-"))
      .foreach { m =>
        try {
          val lines = readLines(fs, m.getPath)
          val ts = lines.collectFirst {
            case l if l.startsWith("ts=") => l.drop(3).toLong
          }
          if (ts.exists(now - _ >= graceMs)) {
            lines.filterNot(_.startsWith("ts=")).foreach { n =>
              try fs.delete(new Path(tomb, n), false)
              catch { case _: Exception => }
            }
            // retire the snapshot too: once its files are reaped, a resume
            // replaying condemnFoldedTombstones would otherwise recreate
            // the marker (fresh ts, phantom file names) and resurrect an
            // empty tombstones/ dir on EVERY later resume — a churn loop,
            // not a data bug. With the snapshot gone the replay is a no-op.
            val seg = m.getPath.getName.stripPrefix(".condemned-")
            try fs.delete(new Path(foldedTombstonesFile(s"$indexDir/$seg")),
              false)
            catch { case _: Exception => }
            fs.delete(m.getPath, false)
          }
        } catch { case _: Exception => }
      }
    // only a leftover _SUCCESS marker? drop the dir — but NEVER recursively:
    // a concurrent Deletes.delete writes through `_temporary`, which the old
    // "metadata-only" test also matched, so a recursive delete here could
    // wipe an in-flight delete job's committed task files (a lost delete —
    // the resurrection class the condemnation protocol exists to prevent).
    // Non-recursive rmdir fails harmlessly if a racer added ANYTHING between
    // the list and the delete.
    val after =
      try fs.listStatus(tomb).map(_.getPath.getName)
      catch { case _: Exception => return }
    if (after.forall(_ == "_SUCCESS")) {
      try {
        after.foreach(n => fs.delete(new Path(tomb, n), false))
        fs.delete(tomb, false)
      } catch { case _: Exception => }
    }
  }

  // ----------------------------------------------------- job descriptors

  /** Written into a segment dir BEFORE any data: what job is materializing
    * it, which docId offset its buckets use, and which segment set the
    * pointer must name when it completes. Resume REPLAYS this record instead
    * of inferring intent from the published pointer (ADVICE r2: inference
    * mis-published crashed rebuilds and crashed compactions).
    */
  def writeJobDescriptor(spark: SparkSession, segPath: String,
      d: JobDescriptor): Unit = {
    val fs = fsOf(spark, segPath)
    val out = fs.create(new Path(jobFile(segPath)), true)
    val bucketsLine = if (d.buckets > 0) s"buckets=${d.buckets}\n" else ""
    try out.write(
      (s"kind=${d.kind}\nidOffset=${d.idOffset}\n" +
        s"publish=${d.publish.mkString(",")}\n" + bucketsLine)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def readJobDescriptor(spark: SparkSession,
      segPath: String): Option[JobDescriptor] = {
    val fs = fsOf(spark, segPath)
    val p = new Path(jobFile(segPath))
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val txt =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val kv = txt.split("\n").map(_.trim).filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    for (kind <- kv.get("kind"); off <- kv.get("idOffset")) yield
      JobDescriptor(kind, off.toLong,
        kv.getOrElse("publish", "").split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq,
        kv.get("buckets").map(_.toInt).getOrElse(0))
  }

  /** A bucket count detected from a live index: `recorded = true` when it
    * came from a job.txt `buckets=` field (authoritative — reject a
    * contradicting flag); `recorded = false` when it was inferred by
    * counting `termBucket=` dirs (a LOWER BOUND only — exact iff every
    * bucket is non-empty, so a flag above it may well be right and must
    * not be rejected, while a flag below it is provably wrong).
    */
  final case class DetectedBuckets(n: Int, recorded: Boolean)

  /** The bucket count the live index was encoded with, from the newest
    * published segment that recorded one (job.txt `buckets=`); falls back to
    * counting `termBucket=` dirs for pre-field segments. None when nothing
    * is published. CLIs use this so an operator never has to repeat
    * --buckets at query/compact time, and a WRONG explicit flag can be
    * rejected loudly instead of silently pruning postings scans to the
    * wrong termBucket dirs.
    */
  def detectBuckets(spark: SparkSession,
      indexDir: String): Option[DetectedBuckets] = {
    val segdirs = current(spark, indexDir).getOrElse(return None)
    val recorded = segdirs.reverseIterator
      .flatMap(sd => readJobDescriptor(spark, s"$indexDir/$sd"))
      .map(_.buckets).find(_ > 0)
    recorded.map(DetectedBuckets(_, recorded = true)).orElse {
      val counts = segdirs
        .map(sd => bucketDirs(spark, s"$indexDir/$sd").size).filter(_ > 0)
      if (counts.isEmpty) None
      else Some(DetectedBuckets(counts.max, recorded = false))
    }
  }

  /** All delete/supersede sources for a live segment set: the global
    * `tombstones/` dir (delete-by-id) plus each segment's `supersedes/`
    * (upsert-by-url victims, written INSIDE the segment before the pointer
    * flip so they become visible atomically WITH the new versions — never
    * before, never after).
    */
  def tombstonePaths(spark: SparkSession, indexDir: String,
      segdirs: Seq[String]): Seq[String] = {
    val fs = fsOf(spark, indexDir)
    Seq(tombstonesDir(indexDir)).filter(p => fs.exists(new Path(p))) ++
      supersedesPaths(spark, indexDir, segdirs)
  }

  /** Just the per-segment `supersedes/` half of [[tombstonePaths]] — for
    * callers (compaction) that snapshot the global `tombstones/` dir as an
    * explicit file list but still read the segment-immutable supersedes as
    * dir paths. Kept here so the supersedes layout has ONE resolver.
    */
  def supersedesPaths(spark: SparkSession, indexDir: String,
      segdirs: Seq[String]): Seq[String] = {
    val fs = fsOf(spark, indexDir)
    segdirs.map(sd => supersedesDir(s"$indexDir/$sd"))
      .filter(p => fs.exists(new Path(p)))
  }

  // ------------------------------------------------------ shared readers

  /** The `termBucket=N` partition dirs of a segment's postings, as
    * (bucket, dir); empty when the segment has no postings dir.
    */
  private[index] def bucketDirs(spark: SparkSession, seg: String): Seq[(Int, Path)] = {
    val fs = fsOf(spark, seg)
    val p = new Path(postingsDir(seg))
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(BucketPrefix))
      .map(d => d.getName.stripPrefix(BucketPrefix).toInt -> d)
  }

  /** Whether a table dir's write job committed (its `_SUCCESS` marker). */
  def committed(spark: SparkSession, table: String): Boolean =
    fsOf(spark, table).exists(new Path(table, "_SUCCESS"))

  /** The docs tables of `segdirs` as one scan. */
  def readDocs(spark: SparkSession, indexDir: String,
      segdirs: Seq[String]): DataFrame =
    spark.read.parquet(segdirs.map(sd => docsDir(s"$indexDir/$sd")): _*)

  /** The postings of `segdirs`: each generation is loaded as its own
    * relation and the relations unioned (Spark cannot infer the termBucket
    * partitioning across multiple roots — a multi-root read throws
    * CONFLICTING_DIRECTORY_STRUCTURES); predicate pushdown distributes over
    * the union, so bucket pruning still applies per generation.
    */
  def readPostings(spark: SparkSession, indexDir: String,
      segdirs: Seq[String]): DataFrame =
    segdirs.map(sd => spark.read.parquet(postingsDir(s"$indexDir/$sd")))
      .reduce(_.unionByName(_))

  /** docId tables (tombstones, supersedes) under an explicit schema: an
    * upsert batch with no overlapping urls writes an empty, schema-less dir.
    */
  def readIds(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema("docId LONG").parquet(paths: _*)

  /** The ids a live segment set hides ([[tombstonePaths]]); None when
    * nothing is deleted or superseded.
    */
  def readTombstones(spark: SparkSession, indexDir: String,
      segdirs: Seq[String]): Option[DataFrame] = {
    val paths = tombstonePaths(spark, indexDir, segdirs)
    if (paths.isEmpty) None else Some(readIds(spark, paths))
  }

  /** The committed data files of the global tombstones dir at this instant,
    * as paths. Dot- and underscore-names are left out: they are markers or
    * an in-flight Deletes job's `_temporary` output.
    */
  def committedTombstoneFiles(spark: SparkSession,
      indexDir: String): Seq[String] = {
    val fs = fsOf(spark, indexDir)
    val dir = new Path(tombstonesDir(indexDir))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => !n.startsWith(".") && !n.startsWith("_")).toSeq
      .map(n => s"${tombstonesDir(indexDir)}/$n")
  }

  /** Record the tombstone files a full merge folds into segment `seg`
    * (a dir path), for [[condemnFoldedTombstones]] after the flip.
    */
  def writeFoldedTombstones(spark: SparkSession, seg: String,
      files: Seq[String]): Unit = {
    val out = fsOf(spark, seg).create(new Path(foldedTombstonesFile(seg)), true)
    try out.write((files.map(new Path(_).getName).mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** A segment's docsmap (file, urlMin, urlMax), or None when the segment
    * has none (pre-docsmap, or an in-flight append whose map has not
    * committed yet).
    */
  def readDocsMap(spark: SparkSession, seg: String): Option[DataFrame] = {
    val p = docsMapDir(seg)
    if (!committed(spark, p)) None
    else Some(spark.read.parquet(p).select("file", "urlMin", "urlMax"))
  }

  private def live(spark: SparkSession, indexDir: String): Seq[String] =
    current(spark, indexDir).getOrElse(throw new IllegalStateException(
      s"no published index at $indexDir (no current-*.txt pointer)"))

  /** Combined corpus stats across the live segment dirs: counts and token
    * totals add; avgdl is re-derived from the sums (NOT averaged); the
    * docId high-water mark is the max over generations (-1 when any
    * generation predates the column — callers needing it must fall back).
    */
  def combinedStats(spark: SparkSession, indexDir: String): CorpusStats =
    combinedStats(spark, indexDir, live(spark, indexDir))

  /** Stats over an ALREADY-RESOLVED segdir list. Snapshot readers (the
    * engine's buildView) must use this overload with the segdirs they
    * resolved once: the pointer-resolving overload re-reads `current`
    * internally, so a pointer flip between the two reads would pair one
    * generation set's docs/postings with another's stats (wrong idf/norms
    * for every query on that snapshot).
    */
  def combinedStats(spark: SparkSession, indexDir: String,
      segdirs: Seq[String]): CorpusStats = {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val parts = segdirs.map(sd => statsDir(s"$indexDir/$sd")).flatMap { p =>
      val df = spark.read.parquet(p)
      val withMax = // pre-r5 stats files lack maxDocId
        if (df.columns.contains("maxDocId")) df
        else df.withColumn("maxDocId", lit(-1L))
      withMax.as[CorpusStats].collect()
    }
    val maxId =
      if (parts.isEmpty || parts.exists(_.maxDocId < 0)) -1L
      else parts.map(_.maxDocId).max
    CorpusStats.of(parts.map(_.n).sum, parts.map(_.totalTerms).sum,
      parts.map(_.titleTerms).sum, maxId)
  }
}
