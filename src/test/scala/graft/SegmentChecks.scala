package graft

import org.scalatest.Assertions._

import graft.index.{IndexLayout, ManifestRow, PostingCodec, PostingSegment}

/** Structural checks on a finished segment dir, and the table paths of an
  * index's live generations for tests that read them directly.
  */
object SegmentChecks {

  /** The postings dir of each live generation of index `dir`. */
  def postingsPaths(dir: String): Seq[String] =
    live(dir).map(IndexLayout.postingsDir)

  /** The docs dir of each live generation of index `dir`. */
  def docsPaths(dir: String): Seq[String] = live(dir).map(IndexLayout.docsDir)

  private def live(dir: String): Seq[String] =
    IndexLayout.current(SparkTestSession.spark, dir)
      .getOrElse(throw new IllegalStateException(s"no published index at $dir"))
      .map(sd => s"$dir/$sd")

  /** What every finished segment holds; `extra` names the rest. */
  private val Always =
    Set("job.txt", "postings", "docs", "docsmap", "stats", "manifest")

  /** Segment `seg` of index `dir` holds exactly [[Always]] plus `extra`
    * (dot-named checksum sidecars aside), and its manifest has one complete
    * row per non-empty bucket whose segCount, termCount and rowCount equal
    * the segments, distinct terms and decoded postings of that bucket.
    */
  def assertSegment(dir: String, seg: String, extra: String*): Unit = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val path = s"$dir/$seg"
    val entries = new java.io.File(path).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    assert(entries == Always ++ extra, s"entries of $seg")
    val manifest = spark.read.parquet(IndexLayout.manifestDir(path))
      .as[ManifestRow].collect()
    assert(manifest.forall(_.status == "complete"), s"manifest of $seg")
    val recomputed = spark.read.parquet(IndexLayout.postingsDir(path))
      .as[PostingSegment].collect().groupBy(_.termBucket)
      .map { case (b, segs) =>
        (b, segs.length.toLong, segs.map(_.term).distinct.length.toLong,
          segs.map(s => PostingCodec.decodeAll(s)._1.length.toLong).sum)
      }
    assert(manifest.map(m => (m.partitionId, m.segCount, m.termCount,
      m.rowCount)).sorted.toSeq == recomputed.toSeq.sorted,
      s"manifest of $seg disagrees with its postings")
  }
}
