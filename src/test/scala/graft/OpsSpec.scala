package graft

import org.scalatest.funsuite.AnyFunSuite

/** Sanity over the driver-verified ops at sf0.001 (full value-level
  * verification against DuckDB happens driver-side and via
  * scripts/check_oracles.py).
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("every registered query runs and the oracle keys line up") {
    // every oracle key must have a query; rows-only queries are allowed
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracle without query: ${os.diff(qs)}")
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, dir)
      val n = df.count()
      assert(n >= 0, name)
      assert(df.columns.nonEmpty, name)
    }
  }

  test("spread repartitions only a scan narrower than defaultParallelism, " +
      "and decides without a Spark job") {
    val par = spark.sparkContext.defaultParallelism
    val wide = SparkTestSession.tempDir("graft-spread")
    spark.read.parquet(s"$dir/documents.parquet").repartition(par)
      .write.mode("overwrite").parquet(s"$wide/documents.parquet")
    def spreadPlan(d: String): String = {
      val scan = spark.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "text")
      val (spread, jobs) =
        SparkTestSession.jobsOf(graft.ops.Ops.spread(spark, scan))
      assert(jobs == 0, s"spread over $d ran $jobs jobs")
      spread.queryExecution.executedPlan.toString
    }
    assert(spreadPlan(dir).contains("RoundRobinPartitioning"),
      "the single-file fixture scan must be spread")
    assert(!spreadPlan(wide).contains("RoundRobinPartitioning"),
      s"a scan of >= $par files must keep its partitioning")
    assert(graft.ops.Ops.tokenizeTf(spark, wide).count() ==
      graft.ops.Ops.tokenizeTf(spark, dir).count())
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("spot values: dedup + fingerprint agree on identical texts") {
    import org.apache.spark.sql.functions._
    val dups = graft.ops.Ops.dedupExact(spark, dir)
      .filter(col("n") > 1).count()
    val ngram = graft.ops.Ops.dedupNgram(spark, dir)
    val high = ngram.filter(col("jaccard") > 0.9).count()
    // the driver's documents table contains synthetic near-dups
    assert(high > 0, "expected near-duplicate pairs with jaccard > 0.9")
    // minhash LSH must recall most high-jaccard pairs
    val lsh = graft.ops.Ops.minhashLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val highPairs = ngram.filter(col("jaccard") > 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = highPairs.count(lsh).toDouble / math.max(1, highPairs.size)
    assert(recall >= 0.8, s"LSH recall $recall over ${highPairs.size} pairs")
    assert(dups >= 0)
  }

  test("hl.snippets: one fragment per PRESENT term, anchor-ordered") {
    import org.apache.spark.sql.functions._
    val multi = graft.ops.Ops.highlightSnippets(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(multi.nonEmpty)
    // a doc yields at most 2 fragments (one per query term), each wrapping
    // at least one term, and fragments arrive in anchor-position order
    multi.groupBy(_._1).foreach { case (id, frags) =>
      assert(frags.length <= 2, s"doc $id")
      assert(frags.map(_._2).sorted.toSeq == frags.map(_._2).toSeq)
      frags.foreach { case (_, _, sn) => assert(sn.contains("<em>"), sn) }
    }
    // docs matching only ONE of the terms produce exactly one fragment
    val single = graft.ops.Ops.highlightSnippets(spark, dir)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    assert(single.forall(n => n >= 1 && n <= 2))
    // snippets=1 reduces to the single-snippet op's anchor (min position)
    val one = graft.ops.Ops.highlightSnippets(spark, dir, snippets = 1)
      .select("doc_id", "snippet").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val legacy = graft.ops.Ops.highlightTopK(spark, dir)
      .select("doc_id", "snippet").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(one == legacy, "snippets=1 must equal the single-snippet op")
  }

  test("cosine top-k includes the query vector itself at rank 1") {
    val top = graft.ops.Ops.embedCosine(spark, dir).collect()
    assert(top.head.getLong(0) == 0L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-6)
  }

  test("IVF ANN: recall >= 0.9 vs exact top-k at nprobe=2 on clustered data") {
    // the driver's embeddings table is isotropic noise (no cluster
    // structure, max off-diagonal cosine ~0.32), so IVF recall is verified
    // on planted clusters: 8 unit centers, 200 points = center + noise
    import spark.implicits._
    val rng = new scala.util.Random(4242)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rng.nextGaussian()))
    val vecs: Seq[(Long, Array[Float])] = (0L until 200L).map { i =>
      val c = centers((i % 8).toInt)
      val v = c.map(x => (x + 0.15 * rng.nextGaussian()).toFloat)
      (i, v)
    }
    val tmp = SparkTestSession.tempDir("graft-ivf")
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")

    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    val qv = vecs.find(_._1 == 42L).get._2
    val exact = vecs.filter(_._1 != 42L)
      .map { case (id, v) => (id, cos(v, qv)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet

    val got = graft.ops.Ops.annIvf(spark, tmp, kClusters = 8, iters = 3,
      nprobe = 2, queryId = 42L, k = 10).collect().map(_.getLong(0)).toSet
    val recall = exact.count(got).toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall (got=$got exact=$exact)")
  }

  test("embedding near-dup: LSH candidates + exact verify on planted dups") {
    import spark.implicits._
    val rng = new scala.util.Random(77)
    val dim = 24
    // 60 base vectors; every 4th gets a near-duplicate twin (tiny noise)
    val base = (0 until 60).map(_ => Array.fill(dim)(rng.nextGaussian()))
    val vecs = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    var id = 0L
    val planted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    base.zipWithIndex.foreach { case (v, i) =>
      val a = id; vecs += ((a, v.map(_.toFloat))); id += 1
      if (i % 4 == 0) {
        val b = id
        vecs += ((b, v.map(x => (x + 0.02 * rng.nextGaussian()).toFloat)))
        planted += ((a, b))
        id += 1
      }
    }
    val tmp = SparkTestSession.tempDir("graft-embdup")
    vecs.toSeq.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = graft.ops.Ops.embNearDup(spark, tmp, threshold = 0.98)
      .collect().map(r => (r.getLong(1) min r.getLong(0),
        r.getLong(0) max r.getLong(1))).toSet
    val hits = planted.count(got)
    assert(hits >= (planted.size * 0.8).toInt,
      s"recalled $hits of ${planted.size} planted near-dups: $got")
    // verification is exact, so no false positives below the threshold
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble*b(i); na += a(i).toDouble*a(i); nb += b(i).toDouble*b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val byId = vecs.toMap
    got.foreach { case (x, y) => assert(cos(byId(x), byId(y)) >= 0.98) }
  }

  test("phrase ops match on token boundaries, not substrings") {
    import spark.implicits._
    // 'metadata groups' contains the CHARACTER substring 'data groups' but
    // not the token sequence [data, group*] — the positions-based engine
    // phrase never matches it, so the regex analogs must not either
    val docs = Seq(
      (1L, "the data group met on tuesday"), // phrase match
      (2L, "metadata groups are curated"), // substring trap: no match
      (3L, "data quality group review"), // slop-1 match only
      (4L, "metadata quality groups review"), // slop trap: no match
      (5L, "grouped data analysis") // reversed order: no match
    ).toDF("doc_id", "text")
    val tmp = SparkTestSession.tempDir("graft-phrase-bounds")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val exact = graft.ops.Ops.phraseMatch(spark, tmp)
      .collect().map(_.getLong(0)).toSet
    assert(exact == Set(1L), s"exact phrase got $exact")
    val slop = graft.ops.Ops.phraseSlop(spark, tmp)
      .collect().map(_.getLong(0)).toSet
    assert(slop == Set(1L, 3L), s"slop phrase got $slop")
  }

  test("repetition ratio: planted boilerplate scores high, clean text zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),        // all distinct
      (2L, "spam spam spam spam spam spam"),              // one token only
      (3L, "buy now buy now buy now buy now"),            // repeated bigram
      (4L, "ab cd")                                       // < 3 tokens: skip
    ).toDF("doc_id", "text")
    val tmp = SparkTestSession.tempDir("graft-repetition")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = graft.ops.Ops.repetitionRatio(spark, tmp)
      .collect().map(x => x.getLong(0) ->
        (x.getDouble(1), x.getDouble(2))).toMap
    assert(!r.contains(4L), "sub-trigram doc must be skipped")
    assert(r(1L)._1 == 0.0 && r(1L)._2 == 0.1667)         // 0 dup, tf 1/6
    // "spam"×6 → 4 identical trigrams → dup 3/4; top term is everything
    assert(r(2L) == (0.75, 1.0))
    // 8 tokens → 6 trigrams, 2 distinct ("buy now buy", "now buy now")
    assert(r(3L)._1 == 0.6667 && r(3L)._2 == 0.5)
  }

  test("int8 quantization: planted vectors hit hand-computed summaries") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f), 0),
      (2L, Seq(0.0f, 0.0f), 0) // zero vector: scale 0, all-zero quant
    ).toDF("vec_id", "embedding", "label")
    val tmp = SparkTestSession.tempDir("graft-quant")
    rows.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val r = graft.ops.Ops.embQuantize(spark, tmp).collect()
      .map(x => x.getLong(0) -> x).toMap
    val v1 = r(1L)
    assert(v1.getInt(1) == 4 && v1.getDouble(2) == 1.0 / 127.0)
    // q = floor(x*127 + 0.5) = [127, -63, 32, 0] -> sum 96, l1 222
    assert(v1.getLong(3) == 96L && v1.getLong(4) == 222L)
    assert(v1.getDouble(5) > 0.0 && v1.getDouble(5) <= 0.5 / 127.0 + 1e-12)
    val v2 = r(2L)
    assert(v2.getDouble(2) == 0.0 && v2.getLong(3) == 0L &&
      v2.getLong(4) == 0L && v2.getDouble(5) == 0.0)
  }

  test("LSH band buckets are capped: identical-text flood stays bounded") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 2.5k byte-identical docs would emit ~3.1M within-bucket pairs per
    // band without the cap (r2 verdict item 4: the one 100 TB scale hole);
    // with it the flood contributes nothing while a genuinely similar pair
    // in a normal bucket is still found.
    val boiler = (1 to 40).map(i => s"boiler$i").mkString(" ")
    val a = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val b = a + " alphaextra"
    val docs = (0L until 2500L).map(i => (i, boiler)) ++
      Seq((5000L, a), (5001L, b))
    val tmp = SparkTestSession.tempDir("graft-lshcap")
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val cand = graft.ops.Ops.minhashLsh(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((5000L, 5001L)), "planted near-dup must survive")
    assert(cand.size < 100,
      s"flood pairs must be capped out, got ${cand.size} candidates")

    // same guard on the embedding side: an identical-vector flood
    val rng = new scala.util.Random(11)
    val dim = 16
    val same = Array.fill(dim)(rng.nextGaussian().toFloat)
    val va = Array.fill(dim)(rng.nextGaussian().toFloat)
    val vb = va.map(x => x + 0.001f)
    val vecs = (0L until 1500L).map(i => (i, same)) ++
      Seq((9000L, va), (9001L, vb))
    val tmp2 = SparkTestSession.tempDir("graft-lshcap-emb")
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp2/embeddings.parquet")
    val emb = graft.ops.Ops.embNearDup(spark, tmp2, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(emb.contains((9000L, 9001L)))
    assert(emb.size < 100, s"embedding flood must be capped, got ${emb.size}")
  }

  test("LSH-verified near-dup recalls the high-jaccard exact pairs") {
    import org.apache.spark.sql.functions._
    val exact = graft.ops.Ops.dedupNgram(spark, dir)
      .filter(col("jaccard") >= 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = graft.ops.Ops.dedupLshVerified(spark, dir)
      .filter(col("jaccard") >= 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = exact.count(verified).toDouble / exact.size
    assert(recall >= 0.8, s"LSH-verified recall $recall over ${exact.size}")
    // verified pairs carry EXACT jaccard — they must be a subset of exact
    assert(verified.subsetOf(exact))
  }

  test("MMD pivot analogs: LUT silent-drop and 'Not Available' default") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // driver data has no null props and every type is known at the pivot
    // LUTs — plant both edge shapes (unknown type, missing description)
    val ts = new java.sql.Timestamp(1704067200000L)
    val events = Seq(
      (1L, ts, 10L, "click", 1.0, """{"k": 1}"""),
      (2L, ts, 10L, "mystery", 2.0, """{"k": 2}"""), // unknown type
      (3L, ts, 10L, "view", 3.0, null: String), // missing description
      (4L, ts, 11L, "click", 4.0, """{"k": 4}"""),
      (5L, ts, 10L, "click", 5.0, """{"k": 5}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = SparkTestSession.tempDir("graft-mmd-pivot")
    events.write.mode("overwrite").parquet(s"$tmp/events.parquet")

    // P18: unknown role rows vanish; sorted id routing per role
    val pp = graft.ops.Ops.personnelPivot(spark, tmp)
      .filter(col("user_id") === 10L).collect()(0)
    assert(pp.getAs[Long]("personnel_investigator_n") == 2L)
    assert(pp.getAs[String]("personnel_investigator_ids") == "1,5")
    assert(pp.getAs[Long]("personnel_technical_contact_n") == 1L)
    assert(pp.getAs[Long]("personnel_metadata_author_n") == 0L)
    assert(pp.getAs[String]("personnel_metadata_author_ids") == "")

    // P23: unknown type dropped from the LUT slots; null desc defaults
    val lut = graft.ops.Ops.relatedUrlLut(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(!lut.contains(2L), "unknown type must be silently dropped")
    assert(lut(3L) == ("landing_page", "Not Available"))
    assert(lut(1L) == ("documentation", """{"k": 1}"""))

    // P20: dynamic group-by-type keeps unknown types (no LUT); first-value
    // extract is deterministic min-by-id
    val ap = graft.ops.Ops.accessPivot(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getString(2), r.getString(3)))
      .toMap
    assert(ap((10L, "mystery"))._1 == "2")
    assert(ap((10L, "click")) == (("1,5", """{"k": 1}""")))
  }

  test("keywords double-index: vocab filter + always-empty wigos") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Spark the window!", "en", "s", 17L),
      (2L, "zzz qqq", "en", "s", 7L), // nothing in vocab
      (3L, "", "en", "s", 0L)) // empty text
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = SparkTestSession.tempDir("graft-kw-double")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.ops.Ops.keywordsDouble(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getString(3)))
      .toMap
    assert(got(1L) == (("spark,the,window", "spark,the,window", "")))
    assert(got(2L) == (("qqq,zzz", "", "")))
    assert(got(3L) == (("", "", "")))
  }
}
