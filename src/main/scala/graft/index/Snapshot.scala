package graft.index

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** @param segdirs generations copied; @param tombstoneFiles committed
  *   delete files carried over; @param bytes total bytes copied.
  */
final case class SnapshotReport(segdirs: Seq[String],
    tombstoneFiles: Int, bytes: Long)

/** Point-in-time backup of a published index — the Solr backup/replication
  * handler analog (Solr snapshots the current IndexCommit's files; here the
  * commit point is the newest `current-*.txt` pointer). SURVEY.md §4.2.
  *
  * Consistency argument, piece by piece:
  *  - segdirs are IMMUTABLE once published (append/compaction only ever
  *    create new segdirs and flip the pointer), so copying the set named by
  *    one pointer read is race-free against concurrent writers;
  *  - the global `tombstones/` dir only grows; it is snapshotted as an
  *    explicit committed-file list
  *    ([[IndexLayout.committedTombstoneFiles]], the list a full merge
  *    folds), so the copy reflects exactly the deletes visible at the list
  *    moment;
  *  - per-segment `supersedes/` (upsert victims) are segment content and
  *    travel with their segdir;
  *  - the destination gets its own fresh pointer naming the copied segdirs,
  *    written LAST via the same atomic tmp+rename publish — a crashed
  *    snapshot leaves an unpublished (never readable) directory, and the
  *    destination becomes a fully self-contained index (Search / Get /
  *    append / Compact all work on it).
  *
  * The one timing hazard is shared with every in-flight reader: a
  * concurrent compaction retires the segdirs this snapshot is copying, and
  * GC reaps them after `gcGraceMs` — the snapshot must finish within the
  * grace of the flip it read, or the copy fails loudly on a missing file
  * (never silently truncates: FileUtil.copy throws).
  */
object Snapshot {

  def run(spark: SparkSession, indexDir: String, outDir: String)
      : SnapshotReport = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcFs = IndexLayout.fsOf(spark, indexDir)
    val dstFs = IndexLayout.fsOf(spark, outDir)
    val segdirs = IndexLayout.current(spark, indexDir).getOrElse(
      throw new IllegalStateException(
        s"no published index at $indexDir (no current-*.txt pointer)"))
    val out = new Path(outDir)
    // refuse to write into anything that exists — a snapshot is a fresh
    // copy, and merging into a half-populated dir could pair old and new
    // generations under the new pointer
    require(!dstFs.exists(out),
      s"snapshot destination $outDir already exists — refuse to merge")
    dstFs.mkdirs(out)

    var bytes = 0L
    segdirs.foreach { sd =>
      val src = new Path(indexDir, sd)
      bytes += srcFs.getContentSummary(src).getLength
      if (!FileUtil.copy(srcFs, src, dstFs, new Path(out, sd),
          false, false, conf))
        throw new IllegalStateException(s"copy failed for $sd")
    }
    // committed tombstone files at this instant (the list Compaction folds)
    val tombFiles = IndexLayout.committedTombstoneFiles(spark, indexDir)
      .map(new Path(_))
    if (tombFiles.nonEmpty) {
      val dstTomb = new Path(IndexLayout.tombstonesDir(outDir))
      dstFs.mkdirs(dstTomb)
      tombFiles.foreach { p =>
        bytes += srcFs.getFileStatus(p).getLen
        if (!FileUtil.copy(srcFs, p, dstFs, new Path(dstTomb, p.getName),
            false, false, conf))
          throw new IllegalStateException(s"copy failed for tombstone $p")
      }
    }
    // publish LAST: the destination is unreadable (no pointer) until every
    // byte above is in place — a killed snapshot can simply be deleted
    IndexLayout.publish(spark, outDir, segdirs)
    SnapshotReport(segdirs, tombFiles.size, bytes)
  }
}
