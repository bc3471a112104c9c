package graft

/** Plan-audit main (developer tool, also exercised ad hoc for BASELINE.md's
  * plan evidence):
  *  - `ExplainCheck <indexDir> <buckets>`: pruning filters of the postings
  *    scan (PartitionFilters / PushedFilters).
  *  - `ExplainCheck ops <sfDir>`: formatted plans of the ops whose physical
  *    shape the scale review cares about (no single-partition exchange in
  *    q_window_rank, no corpus-sized broadcast in q_dedup_ngram).
  */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    val spark = MainCommon.session("explain")
    if (args.headOption.contains("ops")) {
      val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
      Seq(
        "q_window_rank" -> graft.ops.Ops.windowRank(spark, dir),
        "q_dedup_ngram" -> graft.ops.Ops.dedupNgram(spark, dir)
      ).foreach { case (name, df) =>
        println(s"=== $name ===")
        val plan = df.queryExecution.executedPlan.toString
        plan.split("\n").foreach(l => println("[plan] " + l.take(200)))
      }
    } else {
      val e = new graft.query.QueryEngine(spark, args(0), args(1).toInt)
      val plan = e.postingsFor(Seq("w00017", "w00342"))
        .queryExecution.executedPlan.toString
      plan.split("\n").filter(l => l.contains("PartitionFilters") ||
        l.contains("PushedFilters") || l.contains("ReadSchema"))
        .foreach(l => println("[plan] " + l.trim.take(1200)))
      // dictionary scans: each rule's field keyspace and key range must
      // reach parquet as PushedFilters (no full-vocabulary decode) — only
      // the rule's token predicate runs as the typed filter
      import graft.query.{QueryResolve, TermRangeLit}
      Seq(
        "prefix dictionary scan (w000*)" -> QueryResolve.prefixMatch("w000"),
        "fuzzy dictionary scan (title:doc~1)" ->
          QueryResolve.fuzzyMatch("title:doc", 1),
        "wildcard dictionary scan (w00?1*)" ->
          QueryResolve.wildcardMatch("w00?1*"),
        "term-range dictionary scan (text:{w0001 TO w0002])" ->
          QueryResolve.rangeMatch(TermRangeLit("", Some("w0001"),
            Some("w0002"), incLo = false, incHi = true))
      ).foreach { case (name, m) =>
        println(s"=== $name ===")
        e.dictScanPlan(m).split("\n")
          .filter(l => l.contains("PushedFilters") || l.contains("ReadSchema"))
          .foreach(l => println("[plan] " + l.trim.take(1200)))
      }
      // match-all (*:*, r5): no postings touched — the docs scan must read
      // docId ONLY (ReadSchema column pruning) and the plan must end in a
      // TakeOrderedAndProject(k), never a global sort, so q=*:* costs one
      // narrow columnar pass at any corpus size
      println("=== match-all search plan (*:* k=10) ===")
      val maPlan = e.search("*:*", 10).queryExecution.executedPlan.toString
      maPlan.split("\n")
        .filter(l => l.contains("ReadSchema") || l.contains("TakeOrdered"))
        .foreach(l => println("[plan] " + l.trim.take(1200)))
      // realtimeGet is a point lookup on the docs tables: the url equality
      // must reach parquet as a pushed filter so row-group min/max on the
      // url-sorted docs files prunes the scan (VERDICT r4 missing #3) —
      // at 10^12 docs a /get must touch O(row groups containing url), not
      // decode every file it plans over
      println("=== realtimeGet docs scan (url=...) ===")
      import org.apache.spark.sql.functions.{col, lit}
      // audit a REAL mid-corpus url: a miss legitimately plans over zero
      // files now (docsmap rules every file out), which demonstrates
      // nothing about the scan shape of a hit
      // clamp: limit() takes an Int; past 2^31 docs any mid-corpus url does
      val mid = math.min(e.stats.n / 2 + 1, Int.MaxValue.toLong).toInt
      val u = e.docs.select(col("url")).orderBy(col("url"))
        .limit(mid).orderBy(col("url").desc)
        .limit(1).collect().head.getString(0)
      e.realtimeGet(u)
        .queryExecution.executedPlan.toString.split("\n")
        .filter(l => l.contains("PushedFilters") || l.contains("ReadSchema") ||
          l.contains("Location"))
        .foreach(l => println("[plan] " + l.trim.take(1200)))
      // docsmap pruning audit: the /get plans over only the files whose url
      // range can contain the key, per generation
      graft.index.IndexLayout.current(spark, args(0)).getOrElse(Seq.empty)
        .foreach { sd =>
          // pre-docsmap generations fall back to a full-dir scan in
          // realtimeGet — report that instead of crashing the audit
          graft.index.IndexLayout.readDocsMap(spark, s"${args(0)}/$sd") match {
            case Some(m) =>
              val hit = m.filter(col("urlMin") <= lit(u) &&
                col("urlMax") >= lit(u)).count()
              println(s"[plan] docsmap $sd: candidate files $hit of ${m.count()}")
            case None =>
              println(s"[plan] docsmap $sd: absent (full-dir fallback)")
          }
        }
    }
    spark.stop()
  }
}
