package hostbench

import graft.query.{QueryEngine, Wand}

/** One search request: the query string plus the Solr-style parameters the
  * engine's `search` takes.
  */
final case class Q(cls: String, q: String, fq: Seq[String] = Nil,
    qOp: String = "OR", qf: Seq[(String, Double)] = Nil, tie: Double = 0.0) {
  /** Classes whose terms need no dictionary expansion and no stored-field
    * or fq filter: the decomposed layer calls reproduce them exactly.
    */
  def plain: Boolean = Queries.PlainClasses.contains(cls)
  override def toString: String =
    q + (if (fq.nonEmpty) " fq=" + fq.mkString("|") else "") +
      (if (qf.nonEmpty) " qf=" + qf.map { case (f, w) => s"$f^$w" }.mkString(",") + s" tie=$tie" else "")
}

/** The benchmark's queries. The fixed ones are the repository's reference
  * set; the distinct ones take its shapes with fresh long-tail terms. Terms
  * follow the corpus generator's vocabulary (`w00000`..`w49999`,
  * Zipf-ranked, plus a stopword head), so a low word number is a frequent
  * term and a high one a rare term.
  */
object Queries {
  val K = 10
  val Classes: Seq[String] = Seq("term", "bool", "phrase", "prefix", "fuzzy",
    "wildcard", "range", "filter", "fq", "qf", "matchall")
  /** Classes answered with one pruned postings scan and no dictionary
    * expansion or fq match set.
    */
  val OneScanClasses: Seq[String] = Seq("term", "bool", "phrase", "filter", "qf")
  val PlainClasses: Set[String] = OneScanClasses.filterNot(_ == "filter").toSet
  private val TitleQf = Seq("text" -> 1.0, "title" -> 3.0)

  /** The repository's reference query set, each with its class: the golden
    * queries (FIXTURES.md section 3 and its later-round additions, as
    * `graft.Bench.goldenQueries` lists them), then the fq / q.op and the
    * edismax qf / tie combinations `graft.Bench` times
    * (`fqLatencyQueries`, `qfLatencyQueries`). `graft.Bench` keeps these
    * lists private, so they are restated here.
    */
  val Reference: Seq[Q] = Seq(
    Q("term", "w00017"), Q("term", "the"), Q("bool", "w00017 w00342"),
    Q("bool", "w00017 AND w00342"), Q("phrase", "\"w00017 w00342\""),
    Q("bool", "w00017 NOT w00342"), Q("term", "text:w01234"),
    Q("filter", "lang:no AND w00099"), Q("term", "w49998"),
    Q("bool", "w00001 w00002 w00003 w00004 w00005"),
    Q("filter", "url:host3. w00017"),
    Q("filter", "warc_ts:[2024-01-01T00:00:00Z TO 2024-01-05T00:00:00Z] w00017"),
    Q("phrase", "\"the of\""), Q("bool", "w00017 AND w00342 OR w00343"),
    Q("bool", "w00017 AND (w00342 OR w00343)"), Q("prefix", "w0099*"),
    Q("bool", "title:9999 w00017"), Q("phrase", "\"the of\"~2"),
    Q("phrase", "\"w00017 w00342\"~3"), Q("bool", "w00017^2 OR w00342"),
    Q("bool", "the^0.1 w00017"), Q("fuzzy", "w00017~1"),
    Q("fuzzy", "w00017~2 AND w00342"), Q("wildcard", "w0001?"),
    Q("wildcard", "w*17 AND the"), Q("range", "text:[w00015 TO w00020]"),
    Q("range", "text:{w0001 TO w0002] AND the"), Q("matchall", "*:*"),
    Q("fq", "w00017 w00342", fq = Seq("the")),
    Q("fq", "w00017 w00342", fq = Seq("lang:no"), qOp = "AND"),
    Q("matchall", "*:*", fq = Seq("lang:no")),
    Q("matchall", "*:*", fq = Seq("w00017 OR w00342")),
    Q("qf", "w00017 9999", qf = TitleQf),
    Q("qf", "w00017 AND 42", qf = TitleQf, tie = 0.3),
    Q("qf", "the 17", qf = Seq("text" -> 0.5, "title" -> 2.0), tie = 1.0))

  /** Reference queries that launch Spark jobs on every request however
    * often they repeat: the two whose expansions exceed the driver's
    * 256-segment limit take the distributed path, and a bare `*:*` scans
    * the docs table. No view cache serves them, so the cached phase leaves
    * them out.
    */
  val NeverCached: Set[Q] = Set(Q("fuzzy", "w00017~2 AND w00342"),
    Q("wildcard", "w*17 AND the"), Q("matchall", "*:*"))

  /** The cached phase's fixed set: the reference set minus [[NeverCached]]. */
  val Cached: IndexedSeq[Q] = Reference.filterNot(NeverCached).toIndexedSeq

  /** The stopword-heavy queries `graft.Bench` times on the distributed
    * windowed path (`distributedQueries`).
    */
  val Distributed: IndexedSeq[Q] = IndexedSeq(Q("term", "the"),
    Q("bool", "the of and"), Q("bool", "the AND of"), Q("bool", "w00017 the"))

  /** Class order of one round of distinct queries: each class as often as
    * a third of its reference queries, rounded up (term 2, bool 3, phrase
    * 2, every other class 1), interleaved class by class.
    */
  val StreamCycle: Seq[String] = {
    val left = scala.collection.mutable.Map(Classes.map(c =>
      c -> (Reference.count(_.cls == c) + 2) / 3): _*)
    Iterator.continually(Classes).flatten.takeWhile(_ => left.values.exists(_ > 0))
      .filter(c => left(c) > 0).map { c => left(c) -= 1; c }.toSeq
  }

  /** The round's one-scan part, the classes the timed uncached phase sends. */
  val OneScanCycle: Seq[String] = StreamCycle.filter(OneScanClasses.contains)

  private val Word = "w[0-9]{5}".r

  /** Per class, the reference queries a distinct query is shaped after:
    * those with at least one word term to replace.
    */
  private val Templates: Map[String, IndexedSeq[Q]] =
    Reference.filter(q => Word.findFirstIn(q.q + q.fq.mkString).isDefined)
      .groupBy(_.cls).map { case (c, qs) => c -> qs.toIndexedSeq }

  def run(e: QueryEngine, q: Q, k: Int = K): Array[Wand.Scored] =
    e.search(q.q, k, "text", None, q.fq, q.qOp, q.qf, q.tie).collect()
      .map(r => Wand.Scored(r.getAs[Long]("docId"), r.getAs[Double]("score")))

  def runExhaustive(e: QueryEngine, q: Q, k: Int = K): Array[Wand.Scored] =
    e.searchExhaustive(q.q, k, "text", None, q.fq, q.qOp, q.qf, q.tie).collect()
      .map(r => Wand.Scored(r.getAs[Long]("docId"), r.getAs[Double]("score")))

  /** Same docIds in the same order with bit-identical scores. */
  def same(a: Array[Wand.Scored], b: Array[Wand.Scored]): Boolean =
    a.length == b.length && a.indices.forall { i =>
      a(i).docId == b(i).docId &&
        java.lang.Double.doubleToLongBits(a(i).score) ==
          java.lang.Double.doubleToLongBits(b(i).score)
    }

  /** Ranked order: score descending, docId ascending on ties, at most k. */
  def wellFormed(a: Array[Wand.Scored], k: Int = K): Boolean =
    a.length <= k && a.indices.drop(1).forall { i =>
      a(i - 1).score > a(i).score ||
        (a(i - 1).score == a(i).score && a(i - 1).docId < a(i).docId)
    }

  private def w(n: Int): String = f"w$n%05d"

  /** Endless stream of distinct queries over rare terms (word numbers 2000
    * and up), following [[OneScanCycle]]; [[of]] makes one of any class. A
    * query of a class with reference
    * templates takes the next template of that class in turn and replaces
    * each of its word terms with a fresh one; prefix, fuzzy, wildcard and
    * range queries take the reference's simple shapes (`w0099*`,
    * `w00017~1`, `w0001?`, a ten-term `text:[..]` range) over fresh stems.
    * `lane` 0 and 1 draw from disjoint halves of the vocabulary (even and
    * odd word numbers), so a warm-up stream never fills a cache entry that
    * the measured stream later hits. Every term set and expansion pattern
    * occurs at most once.
    */
  final class Distinct(seed: Long, lane: Int) extends Iterator[Q] {
    private val r = new java.util.SplittableRandom(seed * 131 + 7 + lane)
    private val used = scala.collection.mutable.HashSet.empty[Int]
    private val usedPat = scala.collection.mutable.HashSet.empty[String]
    private val turn = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    private var i = 0
    def hasNext: Boolean = true

    private def num(): Int = {
      var n = 0
      do n = 2000 + 2 * r.nextInt(24000) + lane while (!used.add(n))
      n
    }
    private def t(): String = w(num())
    private def pat(f: => String): String = {
      var p = f
      while (!usedPat.add(p)) p = f
      p
    }
    // 4-digit expansion stems (10 words each) in the rare range, one
    // region per class so two classes never expand to the same term set
    private def stem(lo: Int, hi: Int): Int = lo + 2 * r.nextInt((hi - lo) / 2) + lane

    private def fresh(tpl: Q): Q = {
      val m = scala.collection.mutable.Map.empty[String, String]
      def sub(s: String): String = Word.replaceAllIn(s, x => m.getOrElseUpdate(x.matched, t()))
      tpl.copy(q = sub(tpl.q), fq = tpl.fq.map(sub))
    }

    def next(): Q = {
      val cls = OneScanCycle(i % OneScanCycle.length)
      i += 1
      of(cls)
    }

    def of(cls: String): Q =
      cls match {
        case "prefix"   => Q(cls, pat(f"w${stem(200, 2000)}%04d*"))
        case "fuzzy"    => Q(cls, s"${t()}~1")
        case "wildcard" => Q(cls, pat(f"w${stem(3500, 5000)}%04d?"))
        case "range"    => Q(cls, pat { val b = stem(2000, 3500); f"text:[w$b%04d0 TO w$b%04d9]" })
        case _ =>
          val ts = Templates(cls)
          val k = turn(cls)
          turn(cls) = k + 1
          fresh(ts(k % ts.length))
      }
  }
}
