package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.api.Graft
import graft.operators.{Embed, Pipeline, ResidentTowers, Search}

/** A hybrid search served from the generation's driver snapshot: it
  * answers exactly what the broadcast-idf chain with a list-choice
  * job and Spark-side RRF answered, across add and remove waves. With
  * the driver copy of the serving layouts it runs no Spark job; the
  * Spark branch, which serves indexes too large for the driver, runs
  * at most two per int16 search and answers the same.
  */
class ServeSnapshotSpec extends SparkSpec {

  private val tiers = Seq("int16", "sq8", "pq", "sq8_rerank", "pq_rerank")
  private val (kList, kOut, rrfK, nProbe, overFetch) = (20, 10, 60, 8, 4)

  private val vocab = (0 until 240).map(i => s"w$i")

  /** `n` md docs from `seed`: Zipf-ish words plus one unique token. */
  private def docs(ids: Seq[Long], seed: Long): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    def word(): String =
      vocab((vocab.size * math.pow(rnd.nextDouble(), 2.5)).toInt)
    ids.map { i =>
      (i, s"repo/docs/d$i.md", "en",
        (Seq.fill(30 + rnd.nextInt(60))(word()) :+ s"uniq$i")
          .mkString(" "))
    }.toDF("doc_id", "filepath", "lang", "text")
  }

  /** `n` seeded queries of 1–4 terms; some name a doc's unique token
    * or a word no doc holds.
    */
  private def queries(n: Int, seed: Long, ids: Seq[Long]): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val ws = Seq.fill(1 + i % 4)(vocab(rnd.nextInt(vocab.size)))
      val extra = i % 5 match {
        case 0 => Seq(s"uniq${ids(rnd.nextInt(ids.size))}")
        case 1 => Seq("absentword")
        case _ => Nil
      }
      (ws ++ extra).mkString(" ")
    }
  }

  /** The chain the snapshot serve replaced, per tier: the query's
    * lists chosen by a one-row job, BM25 with broadcast idf/stats
    * joins, the dense tier at those lists, and Spark-side RRF. The
    * tier-independent parts (list choice, BM25 list) run once per
    * query; the BM25 list enters each tier's fuse as its collected
    * rows, under its own schema.
    */
  private def oldSearches(root: String, query: String,
      tiers: Seq[String]): Map[String, DataFrame] = {
    val snap = Pipeline.servedAt(spark, root)
    val tbl = Pipeline.ragTablesAt(spark, root)
    val terms = Graft.tokenizeQuery(query)
    val qU16 = Embed.u16Of(query, Embed.dim)
    val cb = streaming.Streams.loadCodebook(root).get
    val cids = spark.range(1)
      .select(slice(functions.Vectors.centroidRanks(
        typedlit(qU16.map(_.toDouble)), cb), 1, nProbe).as("pls"))
      .collect()(0).getSeq[Int](0)
    val buckets = terms.map(Search.termBucketOf(_, Pipeline.towersMetaOf(root).get.nLex))
      .distinct
    val lexPlan = tbl("tf_b")
      .filter(col("tb").isin(buckets.map(b => b: Any): _*))
      .filter(col("term").isin(terms: _*))
      .join(broadcast(tbl("idf").filter(col("term").isin(terms: _*))
        .select("term", "idf_bm")), "term")
      .crossJoin(broadcast(tbl("stats").select("avgdl")))
      .withColumn("contrib", Search.bm25ContribCol)
      .groupBy("doc_id").agg(round(sum("contrib"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(kList)
    val lex = spark.createDataFrame(
      java.util.Arrays.asList(lexPlan.collect(): _*), lexPlan.schema)
    def exact(short: DataFrame, k: Int): DataFrame = {
      val scan = tbl("enc_ivf").filter(col("cid").isin(cids.map(c => c: Any): _*))
      val in = if (short == null) scan
        else scan.join(broadcast(short.select("doc_id")),
          col("vec_id") === col("doc_id"))
      in.select(col("vec_id").as("doc_id"),
          aggregate(zip_with(col("u16"), typedlit(qU16),
            (a, b) => a.cast("long") * b), lit(0L), (acc, x) => acc + x)
            .as("iscore"))
        .orderBy(col("iscore").desc, col("doc_id")).limit(k)
        .select(col("doc_id"), col("iscore").cast("double").as("score"))
    }
    tiers.map { tier =>
      val dense = tier match {
        case "int16" => exact(null, kList)
        case "sq8" => Pipeline.denseTopSq8(snap, qU16, kList, nProbe, Some(cids))
          .withColumnRenamed("ip_est", "score")
        case "pq" => Pipeline.denseTopPq(snap, qU16, kList, nProbe, Some(cids))
          .withColumnRenamed("ip_est", "score")
        case "sq8_rerank" => exact(Pipeline.denseTopSq8(snap, qU16,
          kList * overFetch, nProbe, Some(cids)), kList)
        case "pq_rerank" => exact(Pipeline.denseTopPq(snap, qU16,
          kList * overFetch, nProbe, Some(cids)), kList)
      }
      tier -> Graft.rrfFuse(Seq(lex, dense), "doc_id", "score", kOut, rrfK)
        .withColumnRenamed("r_0", "r_lex")
        .withColumnRenamed("r_1", "r_vec")
        .select(col("doc_id").as("chunk_id"), col("rrf"),
          col("r_lex"), col("r_vec"))
    }.toMap
  }

  private def newSearch(idx: Graft.RagIndex, q: String, tier: String) =
    idx.search(q, kOut, kList, nProbe, rrfK, tier, overFetch)

  /** Every query answers as the old chain did on the int16 tier and
    * on one quantized tier, in turn, so each tier sees every fourth
    * query (every query on all five tiers ran ~10 minutes for the
    * three phases on a 4-core machine).
    */
  private def assertServesAsOld(idx: Graft.RagIndex, qs: Seq[String],
      phase: String): Seq[Row] =
    qs.zipWithIndex.flatMap { case (q, i) =>
      val qTiers = Seq("int16", tiers(1 + i % 4))
      val old = oldSearches(idx.root, q, qTiers)
      qTiers.flatMap { tier =>
        val got = newSearch(idx, q, tier).collect().toSeq
        assert(got == old(tier).collect().toSeq,
          s"$phase, tier $tier, query '$q'")
        got
      }
    }

  test("the snapshot serve equals the old chain on every tier, across " +
      "an add wave and a remove wave; an add moves the served weights " +
      "and no removed id is ever returned") {
    val root = java.nio.file.Files.createTempDirectory("graft_snap_").toString
    try {
      val base = 1L to 60L
      val idx = Graft.ragIndex(docs(base, 7L), "doc_id", "filepath", "lang",
        "text", stateRoot = Some(root))
      val qs = queries(50, 11L, base)
      val hits0 = assertServesAsOld(idx, qs, "built")
      assert(hits0.nonEmpty)

      val head0 = sources.TableLog.open(root).latestVersion
      val snap0 = Pipeline.servedAt(spark, root)
      val (avgdl0, idf0) = (snap0.avgdl, snap0.idf)
      val added = 61L to 75L
      assert(idx.add(docs(added, 8L), "doc_id", "filepath", "lang",
        "text") == added.size)
      assert(sources.TableLog.open(root).latestVersion != head0)
      val snap1 = Pipeline.servedAt(spark, root)
      assert(!(snap1 eq snap0))
      assert(snap1.idf.contains("uniq61") && !idf0.contains("uniq61"))
      assert(snap1.avgdl != avgdl0 || snap1.idf("w0") != idf0("w0"))
      // the same queries after each wave, plus queries naming the
      // wave's docs: fresh queries per phase compiled enough one-off
      // classes into the JVM-wide codegen cache to disturb a later
      // suite's repeat-call count (CodegenCacheSpec)
      assertServesAsOld(idx, qs ++ added.take(5).map(i => s"uniq$i w1"),
        "after add")

      val removed = Seq(3L, 17L, 42L, 64L, 70L)
      assert(idx.remove(removed) == removed.size)
      val hits2 = assertServesAsOld(idx,
        qs ++ removed.map(i => s"uniq$i w1"),
        "after remove")
      val leaked = hits2.map(_.getLong(0) / 1000000L).filter(removed.contains)
      assert(leaked.isEmpty, s"removed docs served: $leaked")
    } finally graft.Fs.deleteTree(root)
  }

  /** An index over 40 docs that the next two tests share. */
  private lazy val shared: (Graft.RagIndex, Seq[String]) = {
    val root = Staging.scratch("snap_jobs")
    val base = 1L to 40L
    (Graft.ragIndex(docs(base, 21L), "doc_id", "filepath", "lang", "text",
      stateRoot = Some(root)), queries(24, 22L, base).distinct)
  }

  private def onSpark(idx: Graft.RagIndex, q: String, tier: String) =
    Pipeline.serveHybridOnSpark(spark, idx.root, Graft.tokenizeQuery(q),
      Embed.u16Of(q, Embed.dim), kList, kOut, rrfK, nProbe, tier, overFetch)

  test("with the driver copy loaded a search runs no Spark job and " +
      "compiles no class on any tier; the Spark branch runs at most two " +
      "jobs; collecting either's hits runs none") {
    val (idx, qs) = shared
    assert(qs.size >= 20)
    // each tier's first search loads its layouts
    tiers.foreach(tier => newSearch(idx, qs.head, tier).collect())
    assert(Pipeline.servedAt(spark, idx.root).resident.isDefined)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    for (q <- qs; tier <- tiers) {
      val (hits, searchJobs) = jobsOf(newSearch(idx, q, tier))
      assert(searchJobs == 0, s"'$q' on $tier ran $searchJobs jobs")
      assert(jobsOf(hits.collect())._2 == 0, s"collecting '$q' on $tier")
    }
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0 == 0,
      "driver-copy searches compiled codegen classes")
    for (q <- qs.take(4)) {
      val (hits, searchJobs) = jobsOf(onSpark(idx, q, "int16"))
      assert(searchJobs <= 2, s"'$q' on Spark ran $searchJobs jobs")
      assert(jobsOf(hits.collect())._2 == 0, s"collecting '$q' on Spark")
    }
  }

  test("the driver copy answers what the Spark branch answers, on " +
      "every tier") {
    val (idx, qs) = shared
    for (q <- qs.take(10); tier <- tiers)
      assert(newSearch(idx, q, tier).collect().toSeq ==
        onSpark(idx, q, tier).collect().toSeq, s"tier $tier, query '$q'")
    intercept[RuntimeException](newSearch(idx, qs.head, "int8"))
    intercept[RuntimeException](onSpark(idx, qs.head, "int8"))
  }

  test("the driver-copy budget admits a copy inside the heap share and " +
      "refuses one past it, counting the copies already held") {
    val heap = 1L << 30
    val cap = (heap * ResidentTowers.heapShare).toLong
    val most = (cap / ResidentTowers.heapPerParquetByte).toLong
    assert(ResidentTowers.heapBytes(most) <= cap)
    assert(ResidentTowers.fits(most, heap, 0L))
    assert(!ResidentTowers.fits(most + 1000L, heap, 0L))
    assert(ResidentTowers.fits(0L, heap, cap))
    assert(!ResidentTowers.fits(most, heap, 1000L))
    assert(ResidentTowers.fits(most / 2, heap,
      ResidentTowers.heapBytes(most / 2)))
    assert(!ResidentTowers.fits(1L, 0L, 0L))
  }

  test("after an add and a remove the memo holds one generation of " +
      "the root") {
    val root = Staging.scratch("snap_gens")
    val idx = Graft.ragIndex(docs(1L to 12L, 41L), "doc_id", "filepath",
      "lang", "text", stateRoot = Some(root))
    idx.search("w1 w2").collect()
    assert(idx.add(docs(13L to 14L, 42L), "doc_id", "filepath", "lang",
      "text") == 2L)
    idx.search("w1 w2").collect()
    assert(idx.remove(Seq(3L)) == 1L)
    idx.search("w1 w2").collect()
    assert(Pipeline.servedGenerations(spark, root) == 1)
    Staging.release(root)
  }

  test("the driver-side fuse equals Graft.rrfFuse: tied scores, ids " +
      "found by one tower only, an empty lexical list") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5L)
    def list(n: Int): Seq[(Long, Double)] =
      rnd.shuffle((1L to 30L).toList).take(n)
        .map(id => (id, Seq(0.5, 1.0, 1.25, 2.0)(rnd.nextInt(4))))
    val cases = Seq.fill(12)((list(1 + rnd.nextInt(20)), list(1 + rnd.nextInt(20)))) ++
      Seq((Nil, list(15)), (list(15), Nil),
        (Seq((1L, 1.0), (2L, 1.0)), Seq((2L, 1.0), (1L, 1.0))))
    for (((lex, vec), i) <- cases.zipWithIndex; k <- Seq(5, 40)) {
      val want = Graft.rrfFuse(Seq(lex.toDF("doc_id", "score"),
          vec.toDF("doc_id", "score")), "doc_id", "score", k, 60)
        .select("doc_id", "rrf", "r_0", "r_1").collect().toSeq
      // the rendering tells a Long id from a Double one; == does not
      assert(Pipeline.rrfFuseRows(Seq(lex, vec), k, 60).map(_.toString) ==
        want.map(_.toString), s"case $i, k $k: lex $lex, vec $vec")
    }
  }

  test("the search schema is the old chain's: names, types, nullability") {
    val root = java.nio.file.Files.createTempDirectory("graft_snap_schema_").toString
    try {
      val idx = Graft.ragIndex(docs(1L to 12L, 31L), "doc_id", "filepath",
        "lang", "text", stateRoot = Some(root))
      for (q <- Seq("w1 w2", "absentword"))
        assert(newSearch(idx, q, "int16").schema ==
          oldSearches(root, q, Seq("int16"))("int16").schema)
    } finally graft.Fs.deleteTree(root)
  }

  /** Every pack and eval the driver copy serves equals the Spark plan's
    * rows and schema. The cases: the seeded queries; a query with no
    * known term; a repeated term; a term two queries share; no query
    * at all; ties (two docs of one text); a budget below every
    * chunk; a binding `maxPerDoc`.
    */
  private def assertPacksAsSpark(idx: Graft.RagIndex, qs: Seq[String],
      phase: String): Unit = {
    val root = idx.root
    assert(Pipeline.servedAt(spark, root).resident.isDefined, phase)
    def same(got: DataFrame, want: DataFrame, what: String): Seq[Row] = {
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      assert(got.schema == want.schema, s"$phase, $what: schema")
      assert(g.map(_.toString) == w.map(_.toString), s"$phase, $what")
      w
    }
    val edge = Seq("absentword", "w1 w1 w3 w1", "w2 w5", "w5 w9 tie",
      "tie", "uniq7 w0")
    val lists = Seq(qs.take(8), qs.slice(8, 16), edge, Nil)
    val results = for (ql <- lists; (kCand, maxPerDoc, budget) <-
        Seq((8, 2, 120), (12, 1, 400), (12, 12, 400), (5, 2, 1))) yield
      same(idx.packContextFor(ql, kCand, maxPerDoc, budget),
        Pipeline.contextPackOnSpark(spark, root, Pipeline.queryRows(ql),
          kCand, maxPerDoc, budget),
        s"packContextFor($ql, $kCand, $maxPerDoc, $budget)") ->
        (maxPerDoc, budget)
    // the edge cases are exercised, not only listed
    val rows = results.flatMap(_._1)
    assert(results.filter(_._2._2 == 1).forall(_._1.isEmpty),
      s"$phase: a budget of 1 packed a chunk")
    val full = results.filter(_._2 == ((12, 400))).flatMap(_._1)
    assert(full.groupBy(r => (r.getLong(0), r.getLong(3)))
      .exists(_._2.size > 1), s"$phase: maxPerDoc = 1 never binds")
    assert(rows.groupBy(r => (r.getLong(0), r.getDouble(6)))
      .exists(_._2.size > 1), s"$phase: no tied scores")
    val snap = Pipeline.servedAt(spark, root)
    for ((nQueries, topT) <- Seq((16, 3), (40, 2), (0, 3), (6, 1))) {
      assert(snap.resident.get.selfQuerySet(nQueries, topT).sorted ==
        Pipeline.selfQuerySet(snap.tables, nQueries, topT).sorted,
        s"$phase: self query set ($nQueries, $topT)")
      same(idx.packContext(nQueries, topT, 8, 2, 120),
        Pipeline.contextPackOnSpark(spark, root,
          Pipeline.selfQuerySet(snap.tables, nQueries, topT), 8, 2, 120),
        s"packContext($nQueries, $topT)")
      for (k <- Seq(1, 5))
        same(idx.evalSelfRetrieval(nQueries, topT, k),
          Pipeline.stagedSelfEvalOnSpark(spark, root, nQueries, topT, k),
          s"evalSelfRetrieval($nQueries, $topT, $k)")
    }
  }

  test("a context pack and a self-retrieval eval from the driver copy " +
      "equal the Spark plans' rows and schema, across an add wave and " +
      "a remove wave") {
    val s = spark
    import s.implicits._
    val root = Staging.scratch("snap_packs")
    try {
      // docs of one text tie every score they share
      val ties = Seq(50L, 51L, 52L).map(i => (i, s"repo/docs/t$i.md", "en",
        "tie w2 w5 w9 tie w1")).toDF("doc_id", "filepath", "lang", "text")
      val base = 1L to 40L
      val idx = Graft.ragIndex(docs(base, 51L).union(ties), "doc_id",
        "filepath", "lang", "text", stateRoot = Some(root))
      val qs = queries(16, 52L, base)
      assertPacksAsSpark(idx, qs, "built")
      assert(idx.add(docs(61L to 70L, 53L), "doc_id", "filepath", "lang",
        "text") == 10L)
      assertPacksAsSpark(idx, qs, "after add")
      assert(idx.remove(Seq(2L, 7L, 51L, 64L)) == 4L)
      assertPacksAsSpark(idx, qs, "after remove")
    } finally Staging.release(root)
  }

  test("with the driver copy loaded, 20 distinct packs and evals run no " +
      "Spark job and compile no class; collecting them runs none") {
    val (idx, qs) = shared
    idx.packContextFor(qs.take(3)).collect() // loads the postings
    assert(Pipeline.servedAt(spark, idx.root).resident.isDefined)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val calls = (0 until 20).map(i => s"packContextFor #$i" -> (() =>
        idx.packContextFor(qs.slice(i, i + 3), 6 + i % 4, 1 + i % 3,
          60 + 10 * i))) ++
      Seq(4, 9, 16).map(n => s"packContext($n)" -> (() =>
        idx.packContext(nQueries = n))) ++
      Seq(3, 8).map(n => s"evalSelfRetrieval($n)" -> (() =>
        idx.evalSelfRetrieval(nQueries = n)))
    for ((what, call) <- calls) {
      val (df, jobs) = jobsOf(call())
      assert(jobs == 0, s"$what ran $jobs jobs")
      assert(jobsOf(df.collect())._2 == 0, s"collecting $what")
    }
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0 == 0,
      "driver-copy packs compiled codegen classes")
  }
}
